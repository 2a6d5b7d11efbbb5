package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (north-star): media as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted by a batched per-partition
  * operator.
  *
  * IMAGE decode is REAL where the JDK can do it: `javax.imageio` ships with
  * Java 17 and reads PNG/BMP/GIF/JPEG/WBMP headlessly with no external
  * jars, so [[decodeFeatures]] sniffs the magic bytes and decodes matching
  * blobs to true pixel dimensions, and [[imageStats]] extracts per-channel
  * statistics. Inputs outside ImageIO's formats (video, audio, exotic
  * codecs) fall back to the DETERMINISTIC FAKE — still the documented swap
  * point for a full codec lib. The certification corpus carries text bytes
  * as `fake/raw` blobs (no magic match ⇒ the sniff costs four byte
  * compares and never decodes), so q52/q53 stay bit-identical to their
  * oracles while the decode path is exercised by real generated images in
  * `MultimodalSpec`.
  */
object Multimodal {
  import Relational.Q

  /** Magic-byte sniff for the formats the JDK decodes. Cheap (≤ 4 byte
    * compares) and PRECISE-ENOUGH: a false positive only costs one failed
    * ImageIO parse (which falls back to the fake); a miss skips real
    * decode for a format we couldn't decode anyway. */
  private[graft] def looksDecodable(b: Array[Byte]): Boolean = {
    if (b == null || b.length < 4) return false
    val png = (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    val bmp = b(0) == 'B' && b(1) == 'M'
    val gif = b(0) == 'G' && b(1) == 'I' && b(2) == 'F'
    val jpg = (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
    png || bmp || gif || jpg
  }

  /** Real headless decode via the JDK. None when the bytes aren't a
    * format ImageIO reads (or are corrupt) — the caller falls back to
    * the deterministic fake, so a bad blob degrades, never crashes. */
  private[graft] def tryDecode(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    if (!looksDecodable(bytes)) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

  /** Explicit media admission split (the decontam-quarantine discipline
    * for blobs): `keep` = rows whose bytes decode to real pixels, ready
    * for the hash/stats tiers; `quarantine` = everything else with a
    * reason column for offline triage — `no_magic` (not a format the
    * decoder reads: route to the opaque-features tier or a codec
    * upgrade) vs `decode_failed` (magic matched but the parse died:
    * truncated/corrupt upload). One decode pass per row, batched
    * mapPartitions like every media operator; no row is ever dropped
    * silently and none can fail the job.
    *
    * Caching contract (caller-owns-cache, the MinHashIndex/PhashIndex
    * convention): this method holds NO cache — a blob-sized frame pinned
    * inside an operator with no ownership handle would leak corpus-sized
    * blocks into a long-lived session. A caller consuming BOTH halves
    * should cache the input (or use [[decodeProfile]], which fuses
    * admission+gate+hash into one decode) to avoid decoding twice. */
  def partitionMedia(media: DataFrame, batchSize: Int = 64)
      : (DataFrame, DataFrame) = {
    val spark = media.sparkSession
    import spark.implicits._
    val flagged = media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          val reason =
            if (!looksDecodable(bytes)) "no_magic"
            else if (tryDecode(bytes).isEmpty) "decode_failed"
            else ""
          (id, bytes, reason)
        })
      }.toDF("doc_id", "media", "reason")
    (flagged.filter(col("reason") === "").drop("reason"),
      flagged.filter(col("reason") =!= ""))
  }

  /** Media table synthesized from documents: (doc_id, media: binary,
    * meta: struct<format, source>). At 100 TB this is the parquet layout —
    * binary blobs columnar-encoded beside their metadata, prunable without
    * touching blob bytes. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(lit("fake/raw").as("format"), col("source").as("origin")).as("meta"))

  case class MediaFeatures(doc_id: Long, n_bytes: Int, width: Int, height: Int, n_frames: Int)

  /** Feature decode: REAL for ImageIO formats (true pixel dims, one
    * frame), deterministic fake otherwise. SWAP POINT for formats beyond
    * the JDK (video frame counts, audio): replace the fallback branch
    * with a codec call — the contract (batch of (id, bytes) in, features
    * out, deterministic per input) is what the engine tests. */
  private def decodeFeatures(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = if (bytes == null) 0 else bytes.length
    tryDecode(bytes) match {
      case Some(img) => MediaFeatures(id, n, img.getWidth, img.getHeight, 1)
      case None      => MediaFeatures(id, n, n % 640, n % 480, n % 30 + 1)
    }
  }

  case class ImageStats(doc_id: Long, decoded: Boolean, width: Int, height: Int,
      n_channels: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** Per-channel image statistics — the feature-extraction stage an image
    * training pipeline runs after decode (quality filters on brightness /
    * blank detection, channel normalization constants). Real pixels via
    * ImageIO; undecodable blobs report decoded = false with zeroed stats
    * so the pipeline can route them to quarantine instead of crashing.
    * Batched mapPartitions like [[extractFeatures]] — decoder state (and
    * a real codec lib's native context) initializes once per partition. */
  def imageStats(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file spool per image
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          tryDecode(bytes) match {
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              var sr = 0.0; var sg = 0.0; var sb = 0.0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
              val np = (w.toLong * h).toDouble
              ImageStats(id, decoded = true, w, h, img.getRaster.getNumBands,
                sr / np, sg / np, sb / np)
            case None =>
              ImageStats(id, decoded = false, 0, 0, 0, 0.0, 0.0, 0.0)
          }
        })
      }.toDF()
  }

  /** Batched per-partition feature extraction (mapPartitions — codec
    * initialization would happen once per partition, exactly like
    * ml.Embed). */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // codec/session state initializes HERE, once per partition
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) => decodeFeatures(id, bytes) })
      }.toDF()
  }

  /** Media features per document — binary plumbing end-to-end. The oracle
    * recomputes the fake decode arithmetic from the text length (the corpus
    * is ASCII, so byte length == char length), certifying the binary column
    * round-trip and the operator shape. */
  val q52MediaFeatures: Q = (s, d) => {
    extractFeatures(mediaTable(s, d)).orderBy(col("doc_id"))
  }

  /** Frame sampling: one row per sampled frame index (stride 4) — the
    * explode shape a video pipeline uses to fan decoded frames out to
    * per-frame operators. */
  val q53FrameSample: Q = (s, d) => {
    extractFeatures(mediaTable(s, d))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))).as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** A VALID 4×4 24-bit BMP whose 48 pixel bytes are the doc's text bytes
    * (cycled when shorter) — deterministic binary media the oracle can
    * reason about arithmetically. 54-byte header (14 file + 40 info),
    * bottom-up rows, BGR byte order, no row padding (4 px × 3 B = 12 B,
    * already word-aligned). Byte = low byte of the UTF-16 code unit —
    * identical to DuckDB's ord() ONLY on ASCII text, the same corpus
    * contract q52's byte-length oracle already relies on. */
  private[graft] def bmpOf(text: String): Array[Byte] = bmpOf(text, 4)

  /** `side`×`side` variant (side ≡ 0 mod 4 keeps rows word-aligned with
    * no padding bytes): the 16×16 shape gives the q229 sweep images with
    * 64 cells of INDEPENDENT text-byte entropy on the pooled 8×8
    * lattice — upscaling the 4×4 corpus was tried first and measures
    * nothing new (nearest-neighbor 4× replicates every source pixel
    * into 4 pooled cells, so hashes are the 16-bit hashes with each bit
    * ×4 and the 'production' curve degenerates to the q225 curve scaled
    * by 4 — planted distances all ≡ 0 mod 4, collision structure
    * inherited). */
  private[graft] def bmpOf(text: String, side: Int): Array[Byte] = {
    if (text == null || text.isEmpty) return null
    require(side % 4 == 0, s"side $side: rows must stay word-aligned")
    val dataBytes = side * side * 3
    val out = new Array[Byte](54 + dataBytes)
    def le32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataBytes); le32(6, 0); le32(10, 54) // file size, reserved, data offset
    le32(14, 40); le32(18, side); le32(22, side) // info size, width, height
    out(26) = 1; out(28) = 24              // planes, bits per pixel
    le32(30, 0); le32(34, dataBytes)       // no compression, image size
    le32(38, 2835); le32(42, 2835); le32(46, 0); le32(50, 0)
    var k = 0
    while (k < dataBytes) {
      out(54 + k) = text.charAt(k % text.length).toByte
      k += 1
    }
    out
  }

  /** Real-decode round trip, hash-certified (q124): synthesize the BMP
    * above per doc, push it through the SAME `javax.imageio` path any
    * external image takes ([[imageStats]] — header parse, pixel raster,
    * channel statistics), and certify against DuckDB recomputing the
    * channel means directly from the text bytes (pixel byte k is text
    * byte k mod len; BGR order ⇒ channel c = positions k ≡ 2−c mod 3;
    * the bottom-up row flip cancels under a whole-image mean). Channel
    * means are sums of ≤127 over 16 pixels — /16 dyadic, ≤ 4 decimal
    * digits, so round(…,4) is the identity on both engines and the hash
    * compare is exact. This is the decode certification q52 could not
    * give (its corpus bytes are not images — by design): a REAL binary
    * parse, end-to-end, under the oracle gate. */
  val q124ImageRoundtrip: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = Tables.documents(s, d)
      .select(col("doc_id"), bmp(col("text")).as("media"))
    imageStats(media)
      .select(col("doc_id"), col("decoded"), col("width"), col("height"),
        col("n_channels"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
      .orderBy(col("doc_id"))
  }

  /** REAL image resize — the remaining stage of the multimodal quartet
    * (decode [[imageStats]], feature-extract [[extractFeatures]],
    * RESIZE, frame-sample q53): decode → nearest-neighbor rescale →
    * lossless PNG re-encode, all through the JDK, batched mapPartitions
    * like every media operator. Nearest-neighbor by an explicit integer
    * source-index map (`src = x·wIn/wOut`, floor) — deterministic and
    * engine-controlled, no AWT interpolation variance; PNG keeps the
    * resized pixels bit-exact for downstream decode (q148 certifies the
    * full decode→resize→encode→decode chain under the oracle gate).
    * Undecodable blobs pass through with resized = false and their
    * original bytes — the quarantine contract, a bad blob degrades,
    * never crashes. */
  def resizeMedia(media: DataFrame, outW: Int, outH: Int,
      batchSize: Int = 64): DataFrame = {
    require(outW > 0 && outH > 0, s"target ${outW}x$outH")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          tryDecode(bytes) match {
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              val out = new java.awt.image.BufferedImage(
                outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < outH) {
                val sy = (y.toLong * h / outH).toInt
                var x = 0
                while (x < outW) {
                  out.setRGB(x, y, img.getRGB((x.toLong * w / outW).toInt, sy))
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              (id, bos.toByteArray, true)
            case None => (id, bytes, false)
          }
        })
      }.toDF("doc_id", "media", "resized")
  }

  /** Stamp a WHITE corner pixel (a 1/16-area watermark on the 4×4
    * certification images — the timestamp/logo overlay that is THE
    * classic perceptual-near-dup case) through a REAL decode →
    * overwrite → re-encode(PNG) cycle. The white stamp both forces its
    * own cell high AND lifts the whole-image mean, so a spread of
    * near-threshold aHash cells flip: measured planted distances on the
    * certification corpus span hd 0–8 (requantization and brightness
    * shifts were tried first and are hash-PRESERVING here — ASCII pixel
    * bytes quantize monotonically — and a thumbnail round-trip at 4×4
    * destroys the structure entirely, hd 4–13 ≈ uncorrelated). This is
    * the planted near-duplicate generator behind the q225 radius curve
    * (the image twin of q221's SimHash planting). Undecodable blobs
    * pass through unmodified with stamped = false — the quarantine
    * contract.
    *
    * The stamp is ONE white pixel at ANY image size — deliberately NOT
    * scaled up for the q229 64-bit corpus: a proportional 1/16-area
    * block was tried first and DESTROYS the hash there (measured
    * planted distances centered at hd ≈ 34 ≈ uncorrelated — ASCII
    * text-byte pixels have so little dynamic range that the block's
    * ~14 % global-mean lift flips most marginal cells), while the
    * single pixel perturbs its own pooled cell hard and the global
    * mean by under 1 % — the minimal-watermark family whose spread a
    * radius can actually cover. */
  private[graft] def watermarkMedia(media: DataFrame,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          tryDecode(bytes) match {
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              val out = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  out.setRGB(x, y, img.getRGB(x, y))
                  x += 1
                }
                y += 1
              }
              out.setRGB(0, 0, 0xffffff) // the stamp
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              (id, bos.toByteArray, true)
            case None => (id, bytes, false)
          }
        })
      }.toDF("doc_id", "media", "stamped")
  }

  /** (doc_id, h_orig, h_trans): the 16-bit aHash of each certification
    * BMP and of its watermarked re-encode — the planted-truth hash table
    * the q225 sweep prices radii against (exported as oracle support,
    * the q122-signature discipline: hashes are the GIVEN — q139 already
    * certifies the hash arithmetic from raw text bytes — while every
    * pair count, cut, and rate recomputes cross-engine). */
  private[graft] def phashSweepHashes(s: SparkSession, d: String): DataFrame = {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = Tables.documents(s, d)
      .select(col("doc_id"), bmp(col("text")).as("media"))
    val orig = imageAHash(media).filter(col("decoded"))
      .select(col("doc_id"), col("ahash").as("h_orig"))
    val trans = imageAHash(
        watermarkMedia(media)
          .filter(col("stamped")).select(col("doc_id"), col("media")))
      .filter(col("decoded"))
      .select(col("doc_id"), col("ahash").as("h_trans"))
    orig.join(trans, Seq("doc_id"))
  }

  /** Radii for the q225 sweep — the certified q140 operating point is
    * hd ≤ 3. */
  private[graft] val SweepPhashRadii = Seq(0, 1, 2, 3, 4, 6, 8)

  /** Radii for the q229 64-bit sweep: the same operating points plus the
    * loose tail (12, 16) where collision mass could plausibly start on a
    * 64-bit lattice — the table's job is to show where it actually does. */
  private[graft] val SweepPhash64Radii = Seq(0, 1, 2, 3, 4, 6, 8, 12, 16)

  /** (doc_id, h_orig, h_trans) on the PRODUCTION 64-bit lattice: each
    * document synthesizes a 16×16 BMP ([[bmpOf]](text, 16) — 256 px of
    * text-byte pixels, real decode; >64 px, so [[aHashOf]] pools onto
    * the standard 8×8 grid with each cell averaging DISTINCT text bytes
    * — the exact production hash branch, with genuine per-cell entropy;
    * see bmpOf's scaladoc for why upscaling the 4×4 corpus measures
    * nothing), then the single-pixel corner watermark stamps it (see
    * [[watermarkMedia]] for why the stamp is NOT scaled proportionally)
    * and the image is re-hashed through the same decode. The q225
    * 16-bit table prices
    * the radius where the space is SATURATED by construction; this one
    * prices it where the production hashes actually live (r18 verdict
    * #3). */
  private[graft] def phashSweepHashes64(s: SparkSession, d: String): DataFrame = {
    val bmp16 = udf { (text: String) => bmpOf(text, 16) }
    val big = Tables.documents(s, d)
      .select(col("doc_id"), bmp16(col("text")).as("media"))
    val orig = imageAHash(big).filter(col("decoded"))
      .select(col("doc_id"), col("ahash").as("h_orig"))
    val trans = imageAHash(
        watermarkMedia(big)
          .filter(col("stamped")).select(col("doc_id"), col("media")))
      .filter(col("decoded"))
      .select(col("doc_id"), col("ahash").as("h_trans"))
    orig.join(trans, Seq("doc_id"))
  }

  /** Oracle support writer: the q225 planted hash-pair table. */
  private[graft] def writePhashSweepSupport(s: SparkSession, d: String,
      outDir: String): Unit =
    phashPairsTable(s, d, CorpusHashBits).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q225_support_phash")

  /** Oracle support writer: the q229 64-bit planted hash-pair table. */
  private[graft] def writePhash64SweepSupport(s: SparkSession, d: String,
      outDir: String): Unit =
    phashPairsTable(s, d, 64).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q229_support_phash64")

  /** q225: the pHash Hamming-RADIUS operating curve — the image twin of
    * q221: q153 histograms the distance space and q140 dedups at hd ≤ 3,
    * but the radius was unpriced. Truth is the planted watermark family
    * ([[watermarkMedia]] — one white stamped pixel per image, measured
    * planted distances hd 0–8), and per candidate radius t the table
    * reports every bipartite (original, stamped) pair within t —
    * n_pred — against the 500 planted pairs: precision falls as the
    * radius admits unrelated-image collisions, recall climbs as it
    * covers the planted spread; the q140 point (hd ≤ 3) is one row.
    * NOISE VISIBILITY: at the certification corpus's 16-bit hashes the
    * space is saturated (500 images over 65k values), so the precision
    * column makes the noise term of a too-loose radius VISIBLE — on the
    * production 64-bit lattice the same radii carry vastly lower
    * collision mass, which is exactly why the table prices the dial
    * rather than assuming it. Pairs are counted between DISTINCT HASH
    * VALUES with count products (the q153/q144 representative
    * discipline — never doc×doc enumeration; the value-pair join is
    * bounded by hash-space occupancy), hd computed ONCE per value pair
    * and cut per radius (the prefix doctrine). All-BIGINT counts. */
  /** The planted hash-pair tables, persisted once per (session,
    * dataset) — the q230 `termcounts` discipline: each sweep serve is
    * then value-pair arithmetic over a 500-row parquet scan instead of
    * ~1,500 real decode/encode codec passes, and the codec cost lands
    * in the cold artifact chain where `artifact_cost` attributes it.
    * The support writers export from the same artifact, so the oracle
    * certifies exactly the table the sweep served. */
  private def phashPairsTable(s: SparkSession, d: String,
      bits: Int): DataFrame =
    SessionArtifacts.table(s"phashpairs-$bits", s, d)(
      if (bits == 64) phashSweepHashes64(s, d) else phashSweepHashes(s, d))

  val q225PhashRadiusSweep: Q = (s, d) =>
    phashRadiusSweepOf(phashPairsTable(s, d, CorpusHashBits), SweepPhashRadii)

  /** q229: the q225 curve on the PRODUCTION 64-bit lattice (r18 verdict
    * #3) — q225's 16-bit certification space is saturated by
    * construction (500 images over 65k values), so its precision column
    * reads the noise FLOOR, not the production operating point; a
    * single shared radius marker could only extrapolate. Here the
    * planting runs
    * through the real-image hash branch ([[phashSweepHashes64]]: resize
    * to >64 px, pool onto the 8×8 grid, 64-bit hashes) and the table
    * reads where collision mass ACTUALLY lives at each radius
    * (measured: planted mass spreads hd 0–23 centered at 4–8 — the
    * stamped cell plus mean-threshold neighbors — while unrelated-image
    * collisions are ABSENT through hd ≤ 8, precision 1.0, and only
    * appear at hd 12–16). The certified hd ≤ 3 is therefore
    * RECALL-bounded on the production lattice — the inversion of the
    * saturated certification space, where it is precision-bounded —
    * and that is the measured claim the radius now stands on instead
    * of the saturated-space extrapolation. Same value-pair discipline,
    * counts, and oracle chain as q225. As of r20 the production
    * default ACTS on this curve: [[PhashHamMax64]] = 8, the measured
    * knee (r19 verdict #3 — the constant had still shipped 3). */
  val q229Phash64RadiusSweep: Q = (s, d) =>
    phashRadiusSweepOf(phashPairsTable(s, d, 64), SweepPhash64Radii)

  /** The shared radius-curve kernel behind q225/q229: per radius t, the
    * predicted pair volume (every bipartite (orig, trans) value pair
    * within t, count products), planted-pair hits, precision, recall. */
  private def phashRadiusSweepOf(hashPairs: DataFrame,
      radii: Seq[Int]): DataFrame = {
    val hashes = hashPairs.cache()
    val vo = hashes.groupBy(col("h_orig")).agg(count(lit(1)).as("n_o"))
    val vt = hashes.groupBy(col("h_trans")).agg(count(lit(1)).as("n_t"))
    // one hd per (orig value, trans value) pair, bounded by occupancy;
    // the trans value table broadcasts (distinct hash values — never the
    // doc table), keeping the non-equi join the audited broadcast shape
    // rather than a CartesianProduct
    val vpairs = vo.join(broadcast(vt),
        bit_count(col("h_orig").bitwiseXOR(col("h_trans"))) <= radii.max)
      .select(bit_count(col("h_orig").bitwiseXOR(col("h_trans"))).cast("long").as("hd"),
        (col("n_o") * col("n_t")).as("n_pairs"))
      .groupBy(col("hd")).agg(sum(col("n_pairs")).as("n_pairs"))
      .cache()
    val planted = hashes
      .select(bit_count(col("h_orig").bitwiseXOR(col("h_trans"))).cast("long").as("hd"))
      .groupBy(col("hd")).agg(count(lit(1)).as("n_hit"))
      .cache()
    val nTrue = hashes.agg(count(lit(1)).cast("long").as("n_true"))
    // EVERY radius cut in one aggregation per table (the q230 grid-fold
    // discipline): the per-radius filter+agg+union form paid one job's
    // scheduling overhead per radius per table; here two 1-row folds +
    // a 1-row assembly explode cover the whole curve
    val predCols = radii.map(t => coalesce(
      sum(when(col("hd") <= t, col("n_pairs"))), lit(0L))
      .cast("long").as(s"np_$t"))
    val hitCols = radii.map(t => coalesce(
      sum(when(col("hd") <= t, col("n_hit"))), lit(0L))
      .cast("long").as(s"nh_$t"))
    val preds = vpairs.agg(predCols.head, predCols.tail: _*)
    val hits = planted.agg(hitCols.head, hitCols.tail: _*)
    val rows = radii.map(t => struct(
      lit(t.toLong).as("hd_max"), col(s"np_$t").as("n_pred"),
      col("n_true"), col(s"nh_$t").as("n_hit")))
    Caching.materializeAndRelease(
      preds.crossJoin(hits).crossJoin(broadcast(nTrue))
        .select(explode(array(rows: _*)).as("r"))
        .select(col("r.hd_max"), col("r.n_pred"), col("r.n_true"),
          col("r.n_hit"),
          when(col("r.n_pred") === 0, lit(0.0))
            .otherwise(round(col("r.n_hit").cast("double") /
              col("r.n_pred").cast("double"), 4)).as("prec"),
          round(col("r.n_hit").cast("double") /
            col("r.n_true").cast("double"), 4).as("recall"))
        .orderBy(col("hd_max")),
      hashes, vpairs, planted)
  }

  case class ImageHash(doc_id: Long, decoded: Boolean, ahash: Long)

  /** Average-hash (aHash) of a decoded image: bit p is set iff cell p's
    * mean luminance exceeds the whole-image mean — the classic perceptual
    * fingerprint. Images of ≤ 64 px hash one bit PER PIXEL (the
    * certification corpus's 4×4 BMPs: 16-bit hashes, bit-exact against
    * the oracle); anything larger is average-pooled onto the standard
    * 8×8 lattice (cell of (x, y) = (x·8/w, y·8/h), floor division) for a
    * 64-bit hash — a real-sized image hashes, it never fails the task
    * (undecodable blobs still route to decoded = false). INTEGER
    * throughout: luminance = r+g+b, and the threshold is the cross-
    * multiplied compare `cellSum·nPixels > total·cellCount` (reduces to
    * the old `lum·n > total` when every cell is one pixel), so the hash
    * is bit-exact cross-engine, never float-thresholded; the guard
    * bounds both cross-products by 765·n·cntMax (cntMax = the largest
    * pooled cell, MEASURED — extreme aspect ratios concentrate pixels
    * into few cells, so an even-split n/64 assumption would under-guard
    * a 1×n strip) and rare giants compare in BigInt rather than
    * silently wrapping. Batched mapPartitions like [[imageStats]]. */
  /** The hash kernel alone — shared by [[imageAHash]] and the fused
    * single-decode profile pass ([[decodeProfile]]). */
  private[graft] def aHashOf(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val n = w.toLong * h
    val pooled = n > 64
    val nCells = if (pooled) 64 else n.toInt
    val sums = new Array[Long](nCells)
    val cnts = new Array[Long](nCells)
    var total = 0L
    var y = 0
    while (y < h) {
      val gy = if (pooled) (y.toLong * 8 / h).toInt else y
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val l = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toLong
        val c = if (pooled) gy * 8 + (x.toLong * 8 / w).toInt else y * w + x
        sums(c) += l; cnts(c) += 1; total += l
        x += 1
      }
      y += 1
    }
    var hv = 0L
    // overflow guard for the cross-multiplied compare: both products are
    // bounded by 765·n·cntMax, where cntMax is the LARGEST cell — n/64
    // only for near-square images; a 1×n strip pools onto a single grid
    // row and cntMax ≈ n/8, so the bound must use the measured maximum,
    // not an even-split assumption. Beyond the bound, compare in BigInt.
    var cntMax = 0L
    var q = 0
    while (q < nCells) { if (cnts(q) > cntMax) cntMax = cnts(q); q += 1 }
    val fast = 765.0 * n * cntMax < 9.0e18
    var p = 0
    while (p < nCells) {
      val above =
        if (fast) sums(p) * n > total * cnts(p)
        else BigInt(sums(p)) * n > BigInt(total) * cnts(p)
      if (above) hv |= 1L << p
      p += 1
    }
    hv
  }

  /** Fused single-decode profile: everything the media pipeline needs
    * from one decode of each blob — admission (decoded + triage reason,
    * [[partitionMedia]]'s channel), gate metadata (bytes/dims), and the
    * perceptual hash — so the capstone funnel decodes each blob ONCE
    * where the standalone tiers would decode three times. Bytes ride
    * along for the export stage (columnar; only keepers are rewritten). */
  def decodeProfile(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          tryDecode(bytes) match {
            case Some(img) =>
              (id, bytes, true, "", n, img.getWidth, img.getHeight, aHashOf(img))
            case None =>
              val reason = if (!looksDecodable(bytes)) "no_magic" else "decode_failed"
              (id, bytes, false, reason, n, 0, 0, -1L)
          }
        })
      }.toDF("doc_id", "media", "decoded", "reason", "n_bytes", "width", "height", "ahash")
  }

  def imageAHash(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap(_.map { case (id, bytes) =>
          tryDecode(bytes) match {
            case Some(img) => ImageHash(id, decoded = true, aHashOf(img))
            case None      => ImageHash(id, decoded = false, -1L)
          }
        })
      }.toDF()
  }

  /** q139: perceptual-hash image dedup — the media tier of the dedup
    * family (M6/M7 were text; this is the pipeline that collapses
    * re-encoded/duplicated images before captioning or training). Each
    * document's synthesized BMP (the q124 REAL-decode path: actual header
    * parse, actual pixel raster) is aHashed and duplicates collapse by
    * hash in one groupBy — bucketed like exact text dedup, NO pairwise
    * comparison, so the plan is corpus-linear at 100 TB. Near-dup
    * (hamming ≤ k) extends by banding the 64 hash bits exactly as q38
    * bands minhash signatures — the same LSH machinery composes; the
    * certified tier here is the exact-hash bucket. Oracle recomputes every
    * hash from the text bytes that became pixels (BGR raster, bottom-up
    * row flip mapped index-by-index — per-pixel positions matter here,
    * unlike q124's flip-invariant whole-image means). */
  val q139MediaPhashDedup: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = Tables.documents(s, d)
      .select(col("doc_id"), bmp(col("text")).as("media"))
    imageAHash(media)
      .filter(col("decoded"))
      .groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("canonical"))
      .orderBy(col("ahash"))
  }

  /** LATTICE-AWARE hamming radii (r19 verdict #3 — the first priced
    * curve whose pricing DISAGREED with a single shipped constant, so
    * the constant now follows its own curve per lattice): the 16-bit
    * certification lattice (≤ 64 px per-pixel hashes) is SATURATED —
    * precision decays ~2× per radius step — so its radius is
    * precision-bounded at 3; the production 64-bit lattice (pooled-8×8
    * real images) is the opposite — collision mass only appears at
    * hd 12–16 — so its radius is RECALL-bounded and a radius of 3 would
    * silently miss ~5/6 of the classic single-pixel-watermark near-dups
    * (q229: recall 0.17 at hd≤3 vs 0.82 at hd≤8, precision 1.0 through
    * hd≤8). Candidate generation keeps recall EXACT at either radius
    * through the per-lattice band scheme below. */
  private[graft] val PhashHamMax16 = 3 // priced by q225 (16-bit certification lattice: recall 0.79 at hd≤3 on the planted watermark family; precision decays ~2× per radius step in that saturated space — precision-bounded)
  private[graft] val PhashHamMax64 = 8 // priced by q229 (the PRODUCTION 64-bit lattice through the real pooled-8×8 hash branch: precision 1.0 through hd≤8, collisions only at hd 12-16, recall 0.17 at hd≤3 vs 0.82 at hd≤8 on the planted single-pixel watermark family — recall-bounded; hd≤8 is the knee: the largest swept radius with measured precision 1.0)
  private[graft] def phashHamMax(hashBits: Int): Int =
    if (hashBits >= 64) PhashHamMax64 else PhashHamMax16

  /** Per-lattice band scheme (bands, perBandFlips) — the generalized
    * pigeonhole: a pair within radius r cannot have ≥ flips+1 differing
    * bits in EVERY band when bands·(flips+1) > r, so some band differs
    * by ≤ flips bits and the probe side's ≤flips-flip variant of that
    * band equals the index side's exact value (multi-index hashing,
    * Norouzi/Punjani/Fleet 2012 — the candidate join misses nothing).
    *
    * WHY not simply radius+1 single-probe bands at 64-bit (r20 review):
    * 9 bands over 64 bits are 7-bit band values — random band collision
    * 9·2⁻⁷ ≈ 0.07 per hash pair, which at 10⁶ distinct corpus hashes is
    * a ~3.5·10¹⁰-row candidate join before verification. The (3, 2)
    * scheme keeps 21/21/22-bit band values: probe amplification is 718
    * variant rows per query hash (Σ C(w,≤2) per band), but random
    * collision drops to Σ_bands C(w,≤2)·2⁻ʷ ≈ 2.8·10⁻⁴ per pair — ~250×
    * fewer candidates, and only ~4.6× the old radius-3 cost (4·2⁻¹⁶) —
    * the measured price of recalling 0.82 instead of 0.17 of the
    * watermark family. The index/corpus side stays 3 EXACT rows per
    * hash (cheaper than the old 4), so persisted/banded corpus layouts
    * carry no probe blowup. 16-bit keeps (4, 0) — the pre-r20 layout,
    * bit- and plan-identical on every certified query. */
  private[graft] def phashBandScheme(hashBits: Int): (Int, Int) =
    if (hashBits >= 64) (3, 2) else (PhashHamMax16 + 1, 0)

  /** Hash width of the certification corpus's 4×4 BMPs (16 px ⇒ one bit
    * per pixel); real pooled images are 64. */
  private[graft] val CorpusHashBits = 16

  /** Band slice boundaries: band b of B covers bits [b·W/B, (b+1)·W/B)
    * — floor boundaries, widths differing by at most one bit when B ∤ W
    * (3 bands over 64 bits = 21+21+22). */
  private def bandSlices(hashBits: Int, bands: Int): Seq[(Int, Int)] =
    (0 until bands).map { b =>
      val lo = b * hashBits / bands
      (lo, (b + 1) * hashBits / bands - lo)
    }

  private def widthMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  /** All XOR masks with ≤ `maxFlips` bits set within `width` bits, the
    * identity mask first. */
  private[graft] def flipMasks(width: Int, maxFlips: Int): Seq[Long] =
    (0 to maxFlips).flatMap(k => (0 until width).combinations(k)
      .map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** INDEX-side banding: append EXACT (band, bhash) rows — one per
    * scheme band — to any frame with an `ahash` column. This is the
    * persisted/corpus layout every phash near-dup tier equi-joins on;
    * the QUERY side of the join must band with [[withPhashProbes]]
    * (identical rows when the lattice's flip budget is 0, as at
    * 16-bit). */
  private[graft] def withPhashBands(h: DataFrame, hashBits: Int): DataFrame = {
    val (bands, _) = phashBandScheme(hashBits)
    h.select(col("*"), posexplode(array(
        bandSlices(hashBits, bands).map { case (lo, width) =>
          shiftrightunsigned(col("ahash"), lo).bitwiseAND(lit(widthMask(width)))
        }: _*))
      .as(Seq("band", "bhash")))
  }

  /** QUERY-side banding: append (band, bhash) rows for every ≤flips-flip
    * VARIANT of each band value — `Σ C(width, ≤flips)` rows per hash
    * (718 at 64-bit, the multi-probe side of the scheme's tradeoff; see
    * [[phashBandScheme]]). Joining these against [[withPhashBands]] of
    * the other side finds every pair within the lattice radius, exactly.
    * With a 0-flip budget (16-bit) this IS withPhashBands — same rows,
    * same plan — so certified 16-bit queries are untouched.
    *
    * ONE explode over a CONSTANT mask table, not a per-band union (r20
    * review) and not a per-row variant array (r21): union branches
    * re-execute the upstream subplan per branch — on a STREAMING input
    * that subplan is the image decode, the dominant per-batch cost,
    * paid once per band with no way to cache a stream. The r20 form
    * built one 718-element long array PER ROW (each element its own
    * shift/and/xor over `ahash`) and exploded it: codegen compiled, but
    * the projection materialized ~5.7 KB of UnsafeArrayData per input
    * row — measured 13.7 s per 200k probe rows. The masks are
    * row-INDEPENDENT constants, so they now live in one literal
    * (band, lo, wmask, xmask) table that the Generate iterates without
    * any per-row allocation, and each OUTPUT row costs exactly one
    * shift/and/xor against `ahash` — measured 1.14 s on the same probe
    * (12×). Same rows in the same enumeration order: band-major,
    * flip masks in [[flipMasks]] order, identity mask first. */
  private[graft] def withPhashProbes(h: DataFrame, hashBits: Int): DataFrame = {
    val (bands, flips) = phashBandScheme(hashBits)
    if (flips == 0) withPhashBands(h, hashBits)
    else {
      val masks: Seq[(Int, Int, Long, Long)] =
        bandSlices(hashBits, bands).zipWithIndex.flatMap { case ((lo, width), b) =>
          flipMasks(width, flips).map(m => (b, lo, widthMask(width), m))
        }
      h.select(col("*"), explode(typedlit(masks)).as("_graft_m"))
        .select(col("*"),
          col("_graft_m._1").as("band"),
          expr("(shiftrightunsigned(ahash, _graft_m._2) & _graft_m._3) ^ _graft_m._4")
            .as("bhash"))
        .drop("_graft_m")
    }
  }

  /** The q140 probe batch: images of docs < 50 — "today's ingest" (the
    * q78 incremental-dedup boundary convention). */
  private[graft] val PhashProbeMaxId = 50L

  /** q140: NEAR-duplicate images of an ingest batch against the corpus —
    * hamming ≤ 3 on the q139 aHash, candidates by banding the hash bits
    * (q38's LSH discipline in hash space), verified by `bit_count(xor)`.
    *
    * Deliberately the BATCH-vs-corpus shape (q78's), not a whole-corpus
    * pair enumeration: when a perceptual-hash space saturates (here 5k
    * synthetic images over 16 bits; in production, template screenshots
    * / solid-color images over 64 bits), all-pairs output grows
    * quadratically in cluster size — measured 1.14 M qualifying pairs at
    * sf0.1, 10 s mostly spent materializing the answer. Whole-corpus
    * image dedup is served by q139's linear exact-hash groupBy (and
    * q141's components on top); the NEAR tier is a probe: output and
    * join cost bound by batch × bucket density. The probe band table
    * broadcasts (4 rows per probe image). Recall is EXACT by pigeonhole
    * (≤ 3 flips leave one of 4 bands intact — enumerated in spec), so
    * the oracle states the hamming predicate over batch × corpus
    * directly, no candidate replay. In-batch pairs appear once
    * (doc_a < doc_b); cross pairs as (batch doc, corpus doc). */
  val q140MediaNearDup: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = Tables.documents(s, d)
      .select(col("doc_id"), bmp(col("text")).as("media"))
    mediaNearDupOf(imageAHash(media), PhashProbeMaxId, CorpusHashBits)
  }

  /** The q140 kernel over an arbitrary (doc_id, decoded, ahash) frame and
    * hash width — shared by the certified 16-bit query and the 64-bit
    * real-image spec (same code path, different band width). */
  private[graft] def mediaNearDupOf(hashed: DataFrame, probeMaxId: Long,
      hashBits: Int): DataFrame = {
    val hamMax = phashHamMax(hashBits) // lattice-aware radius (r19 verdict #3)
    val hashes = hashed.filter(col("decoded"))
      .select(col("doc_id"), col("ahash")).cache()
    val bands = withPhashBands(hashes, hashBits)
      .select(col("doc_id"), col("band"), col("bhash"))
    // batch side takes the PROBE role (multi-probe variants at 64-bit;
    // identical to exact bands at 16-bit) — amplification follows the
    // small side, the corpus stays at one exact row per band
    val probe = withPhashProbes(hashes.filter(col("doc_id") < probeMaxId), hashBits)
      .select(col("doc_id").as("doc_a"), col("band"), col("bhash"))
    val cand = broadcast(probe)
      .join(bands, Seq("band", "bhash"))
      .filter(col("doc_id") =!= col("doc_a") &&
        (col("doc_id") >= probeMaxId || col("doc_a") < col("doc_id")))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    Caching.materializeAndRelease(
      cand
        .join(hashes.select(col("doc_id").as("doc_a"), col("ahash").as("ha")), Seq("doc_a"))
        .join(hashes.select(col("doc_id").as("doc_b"), col("ahash").as("hb")), Seq("doc_b"))
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= hamMax)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b")),
      hashes)
  }

  /** Star edges of an equality key: every group member links to its min
    * doc_id — linear in group size (a within-group clique would be
    * quadratic for the same component structure). */
  private def starEdges(keyed: DataFrame): DataFrame = {
    val roots = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("doc_a"))
    keyed.join(roots, Seq("k"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
  }

  /** q141: CROSS-MODAL dedup — one canonicalization over the union of
    * text-duplicate edges (q36's exact fingerprint) and image-duplicate
    * edges (q139's aHash): a document re-posted with retouched text but
    * the same image, and another sharing that one's text, all collapse
    * into ONE component (neither modality alone finds the full group —
    * the transitive bridge is the point, and exactly what a multimodal
    * training pipeline needs before captioning). Edges are star-shaped
    * per equality group (linear, never a clique), components via the
    * engine's [[ConnectedComponents]], singletons keep themselves.
    * The certification corpus has no exact text clones (by design), so
    * the text-edge branch and the cross-modal bridging are exercised
    * with planted fixtures in MultimodalSpec; the oracle still closes
    * over BOTH edge sets. */
  val q141CrossModalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bmp = udf { (text: String) => bmpOf(text) }
    crossModalKeepOf(docs,
      imageAHash(docs.select(col("doc_id"), bmp(col("text")).as("media"))))
  }

  /** The q141 kernel over arbitrary (doc_id, text) + (doc_id, decoded,
    * ahash) frames — shared with the planted-bridge unit. */
  private[graft] def crossModalKeepOf(docs: DataFrame, hashes: DataFrame): DataFrame = {
    val textEdges = starEdges(docs.select(col("doc_id"),
      graft.functions.TextFns.fingerprint(col("text")).as("k")))
    val imageEdges = starEdges(hashes.filter(col("decoded"))
      .select(col("doc_id"), col("ahash").cast("string").as("k")))
    val cc = ConnectedComponents.run(textEdges.unionByName(imageEdges))
    Caching.materializeAndRelease(
      docs.select(col("doc_id"))
        .join(cc.select(col("vertex").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("keep_id"))
        .orderBy(col("doc_id")))
  }

  /** Media rule-gate thresholds — the LAION-style admission filter an
    * image-training pipeline runs on decoded metadata (min payload, min
    * dimensions, bounded aspect ratio, bounded frame count). Integer
    * comparisons only; the aspect rule is cross-multiplied
    * (`max ≤ ratio·min`) so zero dims fail closed instead of dividing. */
  final case class MediaGateConfig(minBytes: Long = 64L, minDim: Long = 32L,
      maxAspect: Long = 3L, maxFrames: Long = 24L)

  /** The gate as a column bundle over an [[extractFeatures]]-shaped frame
    * — shared by the batch query and the streaming twin (one definition,
    * two execution modes, the run-collapse discipline). */
  private[graft] def mediaGateFlags(cfg: MediaGateConfig): Seq[org.apache.spark.sql.Column] = {
    // each rule is written ONCE and `keep` composes the same Column
    // trees — a threshold edit cannot desynchronize keep from its flags
    val okSize = col("n_bytes") >= cfg.minBytes
    val okDims = col("width") >= cfg.minDim && col("height") >= cfg.minDim
    val okAspect = greatest(col("width"), col("height")) <=
      least(col("width"), col("height")) * cfg.maxAspect
    val okFrames = col("n_frames") <= cfg.maxFrames
    Seq(okSize.as("ok_size"), okDims.as("ok_dims"), okAspect.as("ok_aspect"),
      okFrames.as("ok_frames"),
      (okSize && okDims && okAspect && okFrames).as("keep"))
  }

  def mediaGate(features: DataFrame,
      cfg: MediaGateConfig = MediaGateConfig()): DataFrame =
    features.select(Seq(col("doc_id"), col("n_bytes"), col("width"),
      col("height"), col("n_frames")) ++ mediaGateFlags(cfg): _*)

  /** q149: media admission gate — the q97 rule-gate discipline on the
    * MEDIA axis: every blob's decoded metadata ([[extractFeatures]] —
    * real dims for real images, the certified fake arithmetic for opaque
    * payloads) against the [[MediaGateConfig]] thresholds, one narrow
    * map pass, per-rule flags so triage sees WHY a blob failed (the
    * partitionMedia reason-channel discipline, rule tier). Oracle
    * recomputes the flags from the byte-length arithmetic. */
  val q149MediaGate: Q = (s, d) =>
    mediaGate(extractFeatures(mediaTable(s, d))).orderBy(col("doc_id"))

  /** q148: the full decode → RESIZE → re-encode → decode chain under the
    * oracle gate: each document's synthesized 4×4 BMP (the q124 corpus)
    * is upscaled 2× by [[resizeMedia]] (real BMP parse, nearest-neighbor
    * map, real PNG encode), and [[imageStats]] then REALLY decodes the
    * PNG output. Exact 2× nearest-neighbor duplicates every source pixel
    * exactly 4×, so the resized channel means equal the original ones —
    * the oracle recomputes them from the text bytes exactly as q124,
    * with the dims at 8. Any defect anywhere in the chain (resize index
    * map, PNG round-trip, channel order) breaks the hash. */
  val q148ResizeRoundtrip: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = Tables.documents(s, d)
      .select(col("doc_id"), bmp(col("text")).as("media"))
    imageStats(resizeMedia(media, 8, 8))
      .select(col("doc_id"), col("decoded"), col("width"), col("height"),
        col("n_channels"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
      .orderBy(col("doc_id"))
  }

  /** q144: cross-modal NEAR-dup canonicalization — q141 with the edge
    * sets a production multimodal dedup graph actually has: exact text
    * fingerprints, exact image hashes, AND hamming ≤ 3 image NEAR-dup
    * links (the q140 relation), one ConnectedComponents closure over the
    * union. The near tier is what catches a re-encoded image bridging
    * two otherwise-separate duplicate groups.
    *
    * Scale shape: exact edges stay per-group stars (corpus-linear). The
    * near edges are built between HASH REPRESENTATIVES, never documents:
    * distinct hashes → banded self-join (q140's discipline) → verified
    * hamming ≤ 3 hash pairs → one edge between the two groups' min-doc
    * reps. Edge count is bounded by the near-neighbor density of the
    * DISTINCT-hash set — independent of how many documents pile into
    * each hash bucket, so a saturated perceptual-hash space (the q140
    * all-pairs trap: 1.14 M doc pairs at sf0.1) contributes each hash
    * pair ONCE. Components are identical to closing over doc-level
    * hamming ≤ 3 pairs: same-hash docs are star-connected, and any
    * cross-hash qualifying doc pair routes through its two reps. */
  val q144CrossModalNearDup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bmp = udf { (text: String) => bmpOf(text) }
    crossModalNearKeepOf(docs,
      imageAHash(docs.select(col("doc_id"), bmp(col("text")).as("media"))),
      CorpusHashBits)
  }

  /** The q144 kernel over arbitrary (doc_id, text) + (doc_id, decoded,
    * ahash) frames — shared with the planted near-bridge unit. */
  private[graft] def crossModalNearKeepOf(docs: DataFrame, hashed: DataFrame,
      hashBits: Int): DataFrame = {
    val hamMax = phashHamMax(hashBits) // lattice-aware radius (r19 verdict #3)
    val hashes = hashed.filter(col("decoded"))
      .select(col("doc_id"), col("ahash")).cache()
    val textEdges = starEdges(docs.select(col("doc_id"),
      graft.functions.TextFns.fingerprint(col("text")).as("k")))
    val imageEdges = starEdges(
      hashes.select(col("doc_id"), col("ahash").cast("string").as("k")))
    // distinct-hash representatives: one row per hash VALUE
    val reps = hashes.groupBy(col("ahash")).agg(min(col("doc_id")).as("rep")).cache()
    // self-join: ONE side takes the probe role (a within-radius pair's
    // differing band bits are symmetric, so the left variant hits the
    // right exact value from either direction; ha < hb dedups)
    val nearEdges = withPhashProbes(reps, hashBits)
      .select(col("band"), col("bhash"),
        col("ahash").as("ha"), col("rep").as("doc_a"))
      .join(withPhashBands(reps, hashBits).select(col("band"), col("bhash"),
        col("ahash").as("hb"), col("rep").as("doc_b")), Seq("band", "bhash"))
      .filter(col("ha") < col("hb"))
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= hamMax)
      .select(col("doc_a"), col("doc_b"))
    val cc = ConnectedComponents.run(
      textEdges.unionByName(imageEdges).unionByName(nearEdges))
    Caching.materializeAndRelease(
      docs.select(col("doc_id"))
        .join(cc.select(col("vertex").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("keep_id"))
        .orderBy(col("doc_id")),
      hashes, reps)
  }

  /** q158: the UNIFIED multimodal funnel — per-source stage counts of
    * the one pipeline a multimodal corpus actually runs
    * ([[graft.pipelines.MultimodalData]]): text rule gate (q97's
    * certified predicate) → media admission + gate (real decode; a doc
    * whose media is undecodable or gate-failing drops, a doc WITHOUT
    * media passes as text-only) → cross-modal NEAR canonicalization
    * (q144's edge union — exact text fp ∪ exact image hash ∪ hamming ≤ 3
    * representative edges — so a doc surviving text dedup still folds
    * when its image near-matches another doc's). The certification
    * corpus synthesizes the three media classes by doc_id mod 3: real
    * 4×4 BMP (decodes, hashes), raw text bytes (no image magic —
    * admission drops the doc), NULL (text-only pass-through), so every
    * stage moves on the certified input.
    *
    * Scale shape: gates are narrow predicate passes (ONE decode per
    * blob, fused admission+gate+hash via [[decodeProfile]]); the closure
    * is q144's — star edges per equality group, near edges between
    * distinct-hash representatives, never doc-pair cliques; the report
    * is one source-sized aggregation. */
  val q158MultimodalFunnel: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    val media = when(col("doc_id") % 3 === 0, bmp(col("text")))
      .when(col("doc_id") % 3 === 1, encode(col("text"), "UTF-8"))
    multimodalFunnelOf(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"), media.as("media")),
      TextOps.RuleGateConfig(),
      // the 4×4 certification BMPs are 102 bytes — dims floor at 4 admits
      // them; every other default threshold is exercised by the unit spec
      MediaGateConfig(minDim = 4),
      CorpusHashBits)
  }

  /** The q158 kernel over an arbitrary (doc_id, source, text,
    * media: binary nullable) frame — shared by the certified query, the
    * [[graft.pipelines.MultimodalData]] capstone's parity spec, and the
    * planted-fixture units. Returns per-source (n_raw, n_gate, n_ppl,
    * n_media, n_canon).
    *
    * `pplGate` mirrors the pipeline's CCNet stage (r14 verdict #5 — the
    * one stage the q158 certification couldn't see): the q147 bigram LM
    * fit ON THE RULE-GATED SURVIVORS, cut at q156's percentile_disc(2/3)
    * — ONE 1-row broadcast, no global sort — unscored (< 2 token) docs
    * pass (the [[Scoring.pplGateKeep]] contract verbatim). With it off,
    * the stage is a pass-through (n_ppl == n_gate) so planted fixtures
    * can exercise the other stages in isolation. */
  private[graft] def multimodalFunnelOf(docs: DataFrame,
      textGate: TextOps.RuleGateConfig, mediaCfg: MediaGateConfig,
      hashBits: Int, pplGate: Boolean = true): DataFrame = {
    val profile = decodeProfile(docs.filter(col("media").isNotNull)
        .select(col("doc_id"), col("media")))
      .withColumn("n_frames", lit(1))
      .select(Seq(col("doc_id"), col("decoded"), col("ahash")) ++
        mediaGateFlags(mediaCfg): _*)
      .select(col("doc_id"),
        (col("decoded") && col("keep")).as("media_keep"), col("ahash"))
    val staged0 = docs
      .withColumn("keep_gate", TextOps.ruleGateKeep(textGate))
      .join(profile, Seq("doc_id"), "left")
      // null media_keep = no media at all = text-only doc: passes
      .withColumn("keep_media", coalesce(col("media_keep"), lit(true)))
      // blob bytes must NOT enter the cache — everything after the
      // profile is metadata-only (the partitionMedia cache lesson)
      .select(col("doc_id"), col("source"), col("text"),
        col("keep_gate"), col("keep_media"), col("media_keep"), col("ahash"))
      .cache()
    // the CCNet leg: fit on the gated survivors, cut at the 2/3
    // percentile of the ROUNDED scores (exact cross-engine), unscored
    // docs pass — keep_ppl folds the keep_gate conjunction in so every
    // downstream stage reads one flag
    val staged =
      if (!pplGate) staged0.withColumn("keep_ppl", col("keep_gate"))
      else {
        val sc = Scoring.bigramNllOf(
            staged0.filter(col("keep_gate")).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("nll2"))
        val cut = sc.agg(expr(
          "percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
        staged0.join(sc, Seq("doc_id"), "left")
          .crossJoin(broadcast(cut))
          .withColumn("keep_ppl",
            col("keep_gate") && (col("nll2").isNull || col("nll2") <= col("c2")))
          .drop("nll2", "c2")
      }
    val surv = staged.filter(col("keep_ppl") && col("keep_media"))
    val keep = crossModalNearKeepOf(
      surv.select(col("doc_id"), col("text")),
      surv.filter(coalesce(col("media_keep"), lit(false)))
        .select(col("doc_id"), lit(true).as("decoded"), col("ahash")),
      hashBits)
    Caching.materializeAndRelease(
      staged.join(keep, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(col("keep_gate").cast("long")).cast("long").as("n_gate"),
          sum(col("keep_ppl").cast("long")).cast("long").as("n_ppl"),
          sum((col("keep_ppl") && col("keep_media")).cast("long")).cast("long")
            .as("n_media"),
          sum((col("keep_id").isNotNull && col("doc_id") === col("keep_id"))
            .cast("long")).cast("long").as("n_canon"))
        .orderBy(col("source")),
      staged0)
  }

  /** q164: cross-modal COMPONENT-SIZE histogram — q115's dup-cluster
    * report for the q144 closure: how many documents fold into
    * components of each size under the text ∪ exact-image ∪ near-image
    * edge union. The release diagnostic for the joint dedup stage: a
    * heavy tail here (a few giant components) means the near threshold
    * is percolating hash space and the canonicalization is about to
    * over-collapse — checked BEFORE shipping a mix, next to q153's
    * pairwise view. Costs the q144 closure + one component-sized
    * aggregation. */
  val q164CrossModalComponents: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bmp = udf { (text: String) => bmpOf(text) }
    componentHistOf(crossModalNearKeepOf(docs,
      imageAHash(docs.select(col("doc_id"), bmp(col("text")).as("media"))),
      CorpusHashBits))
  }

  /** The q164 histogram fold over any (doc_id, keep_id) closure — shared
    * by the certified query and [[graft.pipelines.MultimodalData]]'s
    * optional run diagnostic (`componentHistDir`, the q153/histDir
    * precedent): one definition, component-sized cost. */
  private[graft] def componentHistOf(keep: DataFrame): DataFrame =
    keep
      .groupBy(col("keep_id")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("csize")).cast("long").as("n_docs"))
      .orderBy(col("csize"))

  /** q153: hamming-distance histogram over DISTINCT perceptual hashes —
    * the LSH operating-point diagnostic for the media tier (q123's role
    * for text minhash): how the distinct-hash population spreads in
    * hamming space tells you whether the lattice radius (and the
    * radius+1-band layout guaranteeing it) separates near-dups from the
    * bulk — a histogram with mass piling inside the radius means the
    * space is saturating
    * (the certification corpus's measured percolation) and the near tier
    * needs a wider hash. Pair enumeration is over DISTINCT hash VALUES
    * only — bounded by hash-space occupancy, never corpus size (the q144
    * representative discipline; at the 64-bit production width, sample
    * the distinct set first if occupancy itself grows large). */
  val q153HammingHist: Q = (s, d) => {
    val bmp = udf { (text: String) => bmpOf(text) }
    hammingHistOf(imageAHash(
        Tables.documents(s, d).select(col("doc_id"), bmp(col("text")).as("media")))
      .filter(col("decoded")))
  }

  /** The q153 kernel over any frame with an `ahash` column — shared by
    * the certified query and [[graft.pipelines.MediaData]]'s optional
    * run diagnostic (`histDir`). */
  private[graft] def hammingHistOf(hashed: DataFrame): DataFrame = {
    val hashes = hashed.select(col("ahash")).distinct().cache()
    Caching.materializeAndRelease(
      hashes.select(col("ahash").as("ha"))
        .join(hashes.select(col("ahash").as("hb")), col("ha") < col("hb"))
        .select(bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
        .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming")),
      hashes)
  }

  /** q172: media HASH-SPACE growth curve (r14 verdict #7) — q170's Heaps
    * diagnostic applied to the near-dup identity space: cumulative
    * media-bearing documents and cumulative DISTINCT aHash values at
    * each doc_id decile. q170 sizes the TEXT vocab budget; this curve
    * answers the media twin: where it keeps climbing, new data still
    * yields new visual identities; where it flattens, the hash space is
    * saturating and the near tier is approaching percolation (q164's
    * component histogram is the over-collapse alarm; this is the
    * early-warning trend a release review reads first). Certification
    * synthesis is q164's: every doc's text becomes a real 4×4 BMP
    * through ONE decode.
    *
    * Scale shape (q170's, exactly): each hash contributes at its FIRST
    * document — min(doc_id) per hash, one map-side-combined agg (at
    * production this folds over the persisted phash table, no decode);
    * the decile boundaries are ONE 1-row percentile_disc agg, broadcast;
    * the cumulative counts are tagged sums against that row. No global
    * sort, no window; output is 10 rows. */
  val q172MediaHashGrowth: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bmp = udf { (text: String) => bmpOf(text) }
    val hashed = imageAHash(
        docs.select(col("doc_id"), bmp(col("text")).as("media")))
      .filter(col("decoded")).select(col("doc_id"), col("ahash"))
    val cutCols = (1 to 10).map(i => expr(
      s"percentile_disc(${i / 10.0}) WITHIN GROUP (ORDER BY doc_id)").as(s"c$i"))
    val cuts = broadcast(docs.agg(cutCols.head, cutCols.tail: _*))
    val firstSeen = hashed
      .groupBy(col("ahash")).agg(min(col("doc_id")).as("first_doc"))
    val hRow = firstSeen.crossJoin(cuts).agg(
      sum((col("first_doc") <= col("c1")).cast("long")).as("h1"),
      (2 to 10).map(i =>
        sum((col("first_doc") <= col(s"c$i")).cast("long")).as(s"h$i")): _*)
    val mRow = hashed.crossJoin(cuts).agg(
      sum((col("doc_id") <= col("c1")).cast("long")).as("m1"),
      (2 to 10).map(i =>
        sum((col("doc_id") <= col(s"c$i")).cast("long")).as(s"m$i")): _*)
    mRow.crossJoin(hRow)
      .select(explode(array((1 to 10).map(i => struct(
        lit(i.toLong).as("decile"), col(s"m$i").as("media_cum"),
        col(s"h$i").as("hashes_cum"))): _*)).as("r"))
      .select(col("r.decile"), col("r.media_cum"), col("r.hashes_cum"))
      .orderBy(col("decile"))
  }

  def queries: Map[String, Q] = Map(
    "q52_media_features" -> q52MediaFeatures,
    "q53_frame_sample"   -> q53FrameSample,
    "q124_image_roundtrip" -> q124ImageRoundtrip,
    "q139_media_phash_dedup" -> q139MediaPhashDedup,
    "q140_media_near_dup" -> q140MediaNearDup,
    "q141_cross_modal_dedup" -> q141CrossModalDedup,
    "q144_cross_modal_near" -> q144CrossModalNearDup,
    "q148_resize_roundtrip" -> q148ResizeRoundtrip,
    "q149_media_gate" -> q149MediaGate,
    "q153_hamming_hist" -> q153HammingHist,
    "q225_phash_radius_sweep" -> q225PhashRadiusSweep,
    "q229_phash64_radius_sweep" -> q229Phash64RadiusSweep,
    "q158_multimodal_funnel" -> q158MultimodalFunnel,
    "q164_cross_modal_components" -> q164CrossModalComponents,
    "q172_media_hash_growth" -> q172MediaHashGrowth,
  )

  /** The q225/q229 oracle: every pair count, cut, precision and recall
    * recomputed exhaustively from the exported planted hash-pair table
    * (value-level products in the engine equal doc-level pair counts by
    * construction); parameterized by support table and radius list. */
  private def phashSweepOracleSql(support: String, radii: Seq[Int]): String = {
    val rows = radii.map { t =>
      s"""  SELECT CAST($t AS BIGINT) AS hd_max,
         |    (SELECT CAST(coalesce(sum(n_pairs), 0) AS BIGINT) FROM vp WHERE hd <= $t) AS n_pred,
         |    (SELECT CAST(count(*) AS BIGINT) FROM hp) AS n_true,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pl WHERE hd <= $t) AS n_hit""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH hp AS (
       |  SELECT doc_id, h_orig, h_trans
       |  FROM read_parquet('{GRAFT_OUT}_support/$support/*.parquet')),
       |vo AS (SELECT h_orig, count(*) AS n_o FROM hp GROUP BY 1),
       |vt AS (SELECT h_trans, count(*) AS n_t FROM hp GROUP BY 1),
       |vp AS (
       |  SELECT bit_count(xor(vo.h_orig, vt.h_trans)) AS hd,
       |    vo.n_o * vt.n_t AS n_pairs
       |  FROM vo CROSS JOIN vt),
       |pl AS (SELECT bit_count(xor(h_orig, h_trans)) AS hd FROM hp)
       |SELECT hd_max, n_pred, n_true, n_hit,
       |  CASE WHEN n_pred = 0 THEN 0.0
       |       ELSE round(CAST(n_hit AS DOUBLE) / n_pred, 4) END AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true, 4) AS recall
       |FROM (
       |$rows)
       |ORDER BY hd_max""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q225_phash_radius_sweep" ->
      phashSweepOracleSql("q225_support_phash", SweepPhashRadii),
    "q229_phash64_radius_sweep" ->
      phashSweepOracleSql("q229_support_phash64", SweepPhash64Radii),
    "q52_media_features" ->
      """SELECT doc_id, length(text) AS n_bytes, length(text) % 640 AS width,
        |  length(text) % 480 AS height, length(text) % 30 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q53_frame_sample" ->
      """SELECT doc_id, frame_idx FROM (
        |  SELECT doc_id, unnest(range(0, length(text) % 30 + 1, 4)) AS frame_idx
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // channel means recomputed from the text bytes that became pixels:
    // byte k of the 48-byte raster is text byte (k mod len); BGR order
    // puts channel R at k%3=2, G at 1, B at 0
    "q124_image_roundtrip" ->
      """WITH px AS (
        |  SELECT doc_id, k,
        |    ord(substr(text, CAST(k % length(text) AS INTEGER) + 1, 1)) AS b
        |  FROM documents, unnest(range(0, 48)) AS r(k)),
        |ch AS (
        |  SELECT doc_id,
        |    avg(CASE WHEN k % 3 = 2 THEN b END) AS mr,
        |    avg(CASE WHEN k % 3 = 1 THEN b END) AS mg,
        |    avg(CASE WHEN k % 3 = 0 THEN b END) AS mb
        |  FROM px GROUP BY 1)
        |SELECT doc_id, TRUE AS decoded,
        |  CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_channels,
        |  round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        |FROM ch ORDER BY doc_id""".stripMargin,
    // every aHash recomputed from the text bytes that became pixels.
    // Image pixel p = (x, y) with y top-down; the BMP raster is
    // bottom-up, so p's raster pixel index is (3 - p//4)*4 + p%4 and its
    // BGR bytes sit at raster offsets 3*that + {0,1,2} (mod text length).
    // Luminance = B+G+R summed as integers; bit p set iff lum*16 > total
    // — integer compare, no float threshold, same as the kernel.
    "q139_media_phash_dedup" ->
      s"""WITH $phashCtes
        |SELECT ahash, count(*) AS n_images, min(doc_id) AS canonical
        |FROM hsh GROUP BY 1 ORDER BY 1""".stripMargin,
    // the near-dup SEMANTICS, exhaustively over batch x corpus: banding
    // recall is exact by pigeonhole (<= 3 flipped bits leave one of 4
    // bands intact), so the oracle states the hamming predicate directly
    "q140_media_near_dup" ->
      s"""WITH $phashCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM hsh a JOIN hsh b
        |  ON a.doc_id < 50 AND b.doc_id != a.doc_id
        |  AND (b.doc_id >= 50 OR a.doc_id < b.doc_id)
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY 1, 2""".stripMargin,
    // the q56 closure discipline over the UNION of both modality edge
    // sets (all-pairs within each equality group — same components as
    // the engine's star edges); singletons keep themselves via the left
    // join
    "q141_cross_modal_dedup" ->
      s"""WITH RECURSIVE
        |$phashCtes,
        |tf AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM tf a JOIN tf b ON a.doc_id < b.doc_id AND a.fp = b.fp),
        |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id AND a.ahash = b.ahash),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM tp
        |  UNION ALL SELECT doc_b, doc_a FROM tp
        |  UNION ALL SELECT doc_a, doc_b FROM ip
        |  UNION ALL SELECT doc_b, doc_a FROM ip),
        |reach(doc_id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
        |keep AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1)
        |SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS keep_id
        |FROM documents d LEFT JOIN keep k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // distinct-hash pairs from the certified hash CTEs, histogrammed
    "q153_hamming_hist" ->
      s"""WITH $phashCtes,
        |dh AS (SELECT DISTINCT ahash FROM hsh)
        |SELECT CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming,
        |  count(*) AS n_pairs
        |FROM dh a JOIN dh b ON a.ahash < b.ahash
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q52-certified fake-decode arithmetic pushed through the gate
    // thresholds: all-integer compares, aspect cross-multiplied
    "q149_media_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_bytes,
        |    CAST(length(text) % 640 AS INTEGER) AS width,
        |    CAST(length(text) % 480 AS INTEGER) AS height,
        |    CAST(length(text) % 30 + 1 AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_bytes, width, height, n_frames,
        |  n_bytes >= 64 AS ok_size,
        |  width >= 32 AND height >= 32 AS ok_dims,
        |  greatest(width, height) <= least(width, height) * 3 AS ok_aspect,
        |  n_frames <= 24 AS ok_frames,
        |  n_bytes >= 64 AND width >= 32 AND height >= 32
        |    AND greatest(width, height) <= least(width, height) * 3
        |    AND n_frames <= 24 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // q124's recompute with the dims at 8: exact 2x nearest-neighbor
    // upscale duplicates each source pixel exactly 4x, preserving every
    // channel mean bit-for-bit through the resize + PNG round trip
    "q148_resize_roundtrip" ->
      """WITH px AS (
        |  SELECT doc_id, k,
        |    ord(substr(text, CAST(k % length(text) AS INTEGER) + 1, 1)) AS b
        |  FROM documents, unnest(range(0, 48)) AS r(k)),
        |ch AS (
        |  SELECT doc_id,
        |    avg(CASE WHEN k % 3 = 2 THEN b END) AS mr,
        |    avg(CASE WHEN k % 3 = 1 THEN b END) AS mg,
        |    avg(CASE WHEN k % 3 = 0 THEN b END) AS mb
        |  FROM px GROUP BY 1)
        |SELECT doc_id, TRUE AS decoded,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_channels,
        |  round(mr, 4) AS mean_r, round(mg, 4) AS mean_g, round(mb, 4) AS mean_b
        |FROM ch ORDER BY doc_id""".stripMargin,
    // q141's closure with the image predicate widened to hamming <= 3:
    // the oracle states doc-level near pairs directly (subsuming exact
    // pairs at hamming 0) — provably the same components as the engine's
    // star + hash-representative edge structure
    "q144_cross_modal_near" ->
      s"""WITH RECURSIVE
        |$phashCtes,
        |tf AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM tf a JOIN tf b ON a.doc_id < b.doc_id AND a.fp = b.fp),
        |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM tp
        |  UNION ALL SELECT doc_b, doc_a FROM tp
        |  UNION ALL SELECT doc_a, doc_b FROM ip
        |  UNION ALL SELECT doc_b, doc_a FROM ip),
        |reach(doc_id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
        |keep AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1)
        |SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS keep_id
        |FROM documents d LEFT JOIN keep k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the unified funnel replayed stage by stage: q97's gate predicate
    // (q127's oracle text), the CCNet ppl leg (the q147 bigram model fit
    // on the RULE-GATED survivors, q156's 2/3 cut, unscored docs pass —
    // r14 verdict #5), the mod-3 media admission (class 0 = real
    // BMP decodes and passes the dims-4 gate — flags constant-true at
    // 102 bytes / 4×4 / 1 frame, the q148 constant-fold discipline;
    // class 1 = no image magic, the doc drops; class 2 = NULL media,
    // text-only pass), then q144's closure restricted to survivors
    "q158_multimodal_funnel" ->
      """WITH RECURSIVE
        |t AS (
        |  SELECT doc_id, source, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(length(replace(array_to_string(toks, ' '), ' ', '')) * 1.0 / len(toks), 4) AS mean_wlen,
        |    CAST(list_contains(toks, 'the') AS BIGINT)
        |      + CAST(list_contains(toks, 'a') AS BIGINT)
        |      + CAST(list_contains(toks, 'of') AS BIGINT) AS stop_hits,
        |    round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) AS symbol_ratio
        |  FROM t),
        |g0 AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN n_words BETWEEN 30 AND 90 AND mean_wlen BETWEEN 3 AND 10
        |      AND stop_hits >= 1 AND symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS keep_gate,
        |    CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END AS keep_media
        |  FROM m),
        |t2 AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM g0 WHERE keep_gate = 1),
        |u2 AS (
        |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
        |  FROM t2, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |tfb AS (SELECT doc_id, a, b, count(*) AS tf FROM u2 GROUP BY 1, 2, 3),
        |bg AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab FROM tfb GROUP BY 1, 2),
        |cag AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM bg GROUP BY 1),
        |v2 AS (
        |  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
        |    SELECT unnest(toks) AS w FROM t2)),
        |n2t AS (
        |  SELECT tfb.doc_id,
        |    round(-sum(tfb.tf * ln((bg.cab + 1) / (cag.ca + v2.v))) / sum(tfb.tf), 4) AS nll2
        |  FROM tfb JOIN bg USING (a, b) JOIN cag USING (a) CROSS JOIN v2
        |  GROUP BY 1),
        |pc AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2
        |  FROM n2t),
        |g AS (
        |  SELECT g0.doc_id, g0.source, g0.text, g0.keep_gate, g0.keep_media,
        |    CASE WHEN g0.keep_gate = 1
        |      AND (n.nll2 IS NULL OR n.nll2 <= pc.c2) THEN 1 ELSE 0 END AS keep_ppl
        |  FROM g0 LEFT JOIN n2t n USING (doc_id) CROSS JOIN pc),
        |s AS (SELECT doc_id, text FROM g WHERE keep_ppl = 1 AND keep_media = 1),
        |px AS (
        |  SELECT doc_id, p,
        |    ord(substr(text,
        |      CAST((3 * ((3 - p // 4) * 4 + p % 4) + c) % length(text) AS INTEGER) + 1,
        |      1)) AS b
        |  FROM s, unnest(range(0, 16)) AS rp(p), unnest(range(0, 3)) AS rc(c)
        |  WHERE doc_id % 3 = 0),
        |lum AS (SELECT doc_id, p, CAST(sum(b) AS BIGINT) AS lum3 FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(lum3) AS BIGINT) AS total FROM lum GROUP BY 1),
        |hsh AS (
        |  SELECT lum.doc_id,
        |    CAST(sum(CASE WHEN lum3 * 16 > total THEN 1 << p ELSE 0 END) AS BIGINT) AS ahash
        |  FROM lum JOIN tot USING (doc_id) GROUP BY 1),
        |tf AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM s),
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM tf a JOIN tf b ON a.doc_id < b.doc_id AND a.fp = b.fp),
        |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM tp
        |  UNION ALL SELECT doc_b, doc_a FROM tp
        |  UNION ALL SELECT doc_a, doc_b FROM ip
        |  UNION ALL SELECT doc_b, doc_a FROM ip),
        |reach(doc_id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
        |keep AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1)
        |SELECT g.source, count(*) AS n_raw,
        |  CAST(sum(keep_gate) AS BIGINT) AS n_gate,
        |  CAST(sum(keep_ppl) AS BIGINT) AS n_ppl,
        |  CAST(sum(keep_ppl * keep_media) AS BIGINT) AS n_media,
        |  CAST(sum(CASE WHEN keep_ppl = 1 AND keep_media = 1
        |    AND coalesce(k.keep_id, g.doc_id) = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_canon
        |FROM g LEFT JOIN keep k ON g.doc_id = k.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q144 closure (verbatim CTEs) histogrammed by component size —
    // singletons keep themselves through the left-join coalesce
    "q164_cross_modal_components" ->
      s"""WITH RECURSIVE
        |$phashCtes,
        |tf AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM tf a JOIN tf b ON a.doc_id < b.doc_id AND a.fp = b.fp),
        |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM tp
        |  UNION ALL SELECT doc_b, doc_a FROM tp
        |  UNION ALL SELECT doc_a, doc_b FROM ip
        |  UNION ALL SELECT doc_b, doc_a FROM ip),
        |reach(doc_id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
        |keep AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1),
        |lab AS (
        |  SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS keep_id
        |  FROM documents d LEFT JOIN keep k USING (doc_id)),
        |cs AS (SELECT keep_id, count(*) AS csize FROM lab GROUP BY 1)
        |SELECT csize, count(*) AS n_components,
        |  CAST(sum(csize) AS BIGINT) AS n_docs
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    // q170's first-occurrence decile fold over the recomputed aHash
    // table: min(first doc) per hash value, tagged sums against the
    // 1-row decile-cut table — no window, no sort (r14 verdict #7)
    "q172_media_hash_growth" -> {
      val cutDefs = (1 to 10).map(i =>
        s"percentile_disc(${i / 10.0}) WITHIN GROUP (ORDER BY doc_id) AS c$i")
        .mkString(",\n    ")
      val hDefs = (1 to 10).map(i =>
        s"CAST(sum(CASE WHEN first_doc <= c$i THEN 1 ELSE 0 END) AS BIGINT) AS h$i")
        .mkString(",\n    ")
      val mDefs = (1 to 10).map(i =>
        s"CAST(sum(CASE WHEN doc_id <= c$i THEN 1 ELSE 0 END) AS BIGINT) AS m$i")
        .mkString(",\n    ")
      def lst(p: String) = (1 to 10).map(i => s"$p$i").mkString(", ")
      s"""WITH $phashCtes,
         |cuts AS (SELECT $cutDefs FROM documents),
         |fs AS (SELECT ahash, min(doc_id) AS first_doc FROM hsh GROUP BY 1),
         |h AS (SELECT $hDefs FROM fs, cuts),
         |m AS (SELECT $mDefs FROM hsh, cuts)
         |SELECT unnest(range(1, 11)) AS decile,
         |  unnest([${lst("m")}]) AS media_cum,
         |  unnest([${lst("h")}]) AS hashes_cum
         |FROM m, h ORDER BY decile""".stripMargin
    },
  )

  // the q139 hash pipeline as a CTE body ending in hsh(doc_id, ahash) —
  // q139 certifies it, q140's pair predicate builds on the same text;
  // private[graft] so q160's data-card oracle can splice the same text
  private[graft] val phashCtes =
    """px AS (
      |  SELECT doc_id, p,
      |    ord(substr(text,
      |      CAST((3 * ((3 - p // 4) * 4 + p % 4) + c) % length(text) AS INTEGER) + 1,
      |      1)) AS b
      |  FROM documents, unnest(range(0, 16)) AS rp(p), unnest(range(0, 3)) AS rc(c)),
      |lum AS (SELECT doc_id, p, CAST(sum(b) AS BIGINT) AS lum3 FROM px GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(sum(lum3) AS BIGINT) AS total FROM lum GROUP BY 1),
      |hsh AS (
      |  SELECT lum.doc_id,
      |    CAST(sum(CASE WHEN lum3 * 16 > total THEN 1 << p ELSE 0 END) AS BIGINT) AS ahash
      |  FROM lum JOIN tot USING (doc_id) GROUP BY 1)""".stripMargin
}
