package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** Real image decode through the JDK (javax.imageio, no external jars):
  * the fixtures are GENERATED in-test — a BufferedImage encoded to
  * PNG/BMP/GIF bytes and pushed through the same binary-column path the
  * queries use — so the decode is end-to-end real with no binary files
  * checked in. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def encodeImg(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
    bos.toByteArray
  }

  /** Solid-color image: known dims, exactly known channel means. */
  private def solid(w: Int, h: Int, r: Int, g: Int, b: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    img
  }

  test("extractFeatures decodes real PNG/BMP/GIF dims; non-image bytes take the fake") {
    import spark.implicits._
    val textBytes = "just some document text, long enough to matter".getBytes("UTF-8")
    val rows = Seq(
      (1L, encodeImg(solid(20, 10, 0, 0, 0), "png")),
      (2L, encodeImg(solid(7, 5, 0, 0, 0), "bmp")),
      (3L, encodeImg(solid(33, 9, 0, 0, 0), "gif")),
      (4L, textBytes))
    val got = Multimodal.extractFeatures(rows.toDF("doc_id", "media"))
      .orderBy("doc_id").collect()
    assert(got(0).getInt(2) == 20 && got(0).getInt(3) == 10 && got(0).getInt(4) == 1)
    assert(got(1).getInt(2) == 7 && got(1).getInt(3) == 5 && got(1).getInt(4) == 1)
    assert(got(2).getInt(2) == 33 && got(2).getInt(3) == 9 && got(2).getInt(4) == 1)
    // the fake arithmetic is the q52-certified contract for opaque bytes
    val n = textBytes.length
    assert(got(3).getInt(1) == n && got(3).getInt(2) == n % 640 &&
      got(3).getInt(3) == n % 480 && got(3).getInt(4) == n % 30 + 1)
  }

  test("imageStats reports exact channel means for real pixels, quarantine flag otherwise") {
    import spark.implicits._
    val rows = Seq(
      (1L, encodeImg(solid(16, 16, 200, 100, 50), "png")),
      (2L, encodeImg(solid(4, 3, 0, 255, 0), "bmp")),
      (3L, "not an image at all".getBytes("UTF-8")))
    val got = Multimodal.imageStats(rows.toDF("doc_id", "media"))
      .orderBy("doc_id").collect()
    assert(got(0).getBoolean(1) && got(0).getInt(2) == 16 && got(0).getInt(3) == 16)
    assert(got(0).getDouble(5) == 200.0 && got(0).getDouble(6) == 100.0 &&
      got(0).getDouble(7) == 50.0)
    assert(got(1).getBoolean(1) && got(1).getDouble(5) == 0.0 &&
      got(1).getDouble(6) == 255.0 && got(1).getDouble(7) == 0.0)
    // undecodable: flagged, zeroed, NOT crashed — the quarantine contract
    assert(!got(2).getBoolean(1) && got(2).getInt(2) == 0)
  }

  test("corrupt image bytes degrade to the fake instead of failing the job") {
    import spark.implicits._
    // a real PNG magic with a truncated body: the sniff says decodable,
    // ImageIO fails, the operator must fall back deterministically
    val corrupt = encodeImg(solid(8, 8, 1, 2, 3), "png").take(12)
    val got = Multimodal.extractFeatures(Seq((1L, corrupt)).toDF("doc_id", "media"))
      .collect()(0)
    val n = corrupt.length
    assert(got.getInt(1) == n && got.getInt(2) == n % 640 && got.getInt(4) == n % 30 + 1)
    val st = Multimodal.imageStats(Seq((1L, corrupt)).toDF("doc_id", "media"))
      .collect()(0)
    assert(!st.getBoolean(1))
  }

  test("q124 kernel: the synthesized BMP is a real image and decodes to the text-byte means") {
    import spark.implicits._
    // 48 'a' bytes (97): every channel mean must be exactly 97; a text
    // shorter than the raster cycles
    val rows = Multimodal.imageStats(
        Seq((1L, Multimodal.bmpOf("a" * 48)), (2L, Multimodal.bmpOf("ab")))
          .toDF("doc_id", "media"))
      .orderBy("doc_id").collect()
    assert(rows(0).getBoolean(1) && rows(0).getInt(2) == 4 && rows(0).getInt(3) == 4)
    assert(rows(0).getDouble(5) == 97.0 && rows(0).getDouble(6) == 97.0 &&
      rows(0).getDouble(7) == 97.0)
    // "ab" cycles: even positions 'a'(97), odd 'b'(98). BGR: R at k%3=2 —
    // k = 2,5,8,…,47: half even half odd → mean 97.5; B at k%3=0 (even
    // k only for k=0,6,12… wait — k%3=0 ∧ k%2=0 alternates too) — just
    // assert against the direct recomputation
    def mean(ch: Int): Double =
      (0 until 48).filter(_ % 3 == ch).map(k => ("ab" (k % 2)).toInt).sum / 16.0
    assert(rows(1).getDouble(7) == mean(0)) // B
    assert(rows(1).getDouble(6) == mean(1)) // G
    assert(rows(1).getDouble(5) == mean(2)) // R
  }

  test("q139 kernel: aHash is flat-zero, duplicate-stable, and structured where expected") {
    import spark.implicits._
    val rows = Multimodal.imageAHash(Seq(
        (1L, Multimodal.bmpOf("x" * 48)),      // flat: no pixel above mean
        (2L, Multimodal.bmpOf("hello world")), // structured
        (3L, Multimodal.bmpOf("hello world")), // byte-identical duplicate
        (4L, "not an image".getBytes("UTF-8")) // undecodable
      ).toDF("doc_id", "media"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((true, 0L)), "a flat image has no above-mean pixel")
    assert(rows(2L)._1 && rows(2L)._2 != 0L, "structured bytes must set bits")
    assert(rows(2L) == rows(3L), "identical images must share the hash")
    assert(rows(4L) == ((false, -1L)), "non-images route to the undecoded branch")
    // and the dedup tier groups the duplicates under the min canonical id
    val grouped = Multimodal.imageAHash(Seq(
        (2L, Multimodal.bmpOf("hello world")), (3L, Multimodal.bmpOf("hello world")))
        .toDF("doc_id", "media"))
      .filter(col("decoded"))
      .groupBy(col("ahash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical"))
      .collect()
    assert(grouped.length == 1 && grouped(0).getLong(1) == 2L &&
      grouped(0).getLong(2) == 2L)
  }

  test("band scheme: every hash pair within the lattice radius is found by the probe join (exact recall)") {
    // the generalized pigeonhole behind the candidate generation (r19
    // verdict #3 + r20 review): a pair within radius r cannot differ by
    // >= flips+1 bits in EVERY band when bands*(flips+1) > r, so some
    // band differs by <= flips bits and the probe side's variant equals
    // the index side's exact band value. 16-bit: (4 bands, 0 flips) at
    // radius 3 (exhaustive: all <=3-flip sets). 64-bit: (3 bands, 2
    // flips) at radius 8 (exhaustive at <=2 flips + all <=8-subsets of
    // the band-BOUNDARY bits, where a slicing off-by-one would bite +
    // a seeded random sample).
    for (hashBits <- Seq(16, 64)) {
      val radius = Multimodal.phashHamMax(hashBits)
      val (nBands, flips) = Multimodal.phashBandScheme(hashBits)
      assert(nBands * (flips + 1) > radius, "generalized pigeonhole bound")
      val base = if (hashBits == 16) 0xBEEFL else 0xDEADBEEFCAFEF00DL
      def bandsOf(h: Long): Seq[Long] =
        (0 until nBands).map { b =>
          val lo = b * hashBits / nBands
          val width = (b + 1) * hashBits / nBands - lo
          (h >>> lo) & (if (width >= 64) -1L else (1L << width) - 1)
        }
      // the probe join finds the pair iff some band differs by <= flips
      // bits (a variant mask of exactly that difference exists)
      def probeFinds(bs: Seq[Int]): Boolean = {
        val other = bs.foldLeft(base)((h, b) => h ^ (1L << b))
        bandsOf(base).zip(bandsOf(other))
          .exists { case (a, b) => java.lang.Long.bitCount(a ^ b) <= flips }
      }
      val boundaryBits = (0 until nBands)
        .flatMap(b => Seq(b * hashBits / nBands, (b + 1) * hashBits / nBands - 1))
        .distinct.sorted
      val exhaustiveDepth = if (hashBits == 16) radius else 2
      val flipSets: Iterator[Seq[Int]] =
        (1 to exhaustiveDepth).iterator.flatMap((0 until hashBits).combinations) ++
          (1 to radius).iterator.flatMap(boundaryBits.combinations) ++ {
            val rnd = new scala.util.Random(229L)
            Iterator.fill(4000)(rnd.shuffle((0 until hashBits).toList)
              .take(1 + rnd.nextInt(radius)))
          }
      flipSets.foreach { bs =>
        assert(probeFinds(bs),
          s"no band within the flip budget at width $hashBits radius $radius for flipped bits $bs — the candidate join would miss this pair")
      }
      // tightness: flips+1 flips in EVERY band evades the whole scheme
      // (16-bit: 1 per band = 4 > 3; 64-bit: 3 per band = 9 > 8 — both
      // legitimately outside the radius)
      val evaderFlips = (0 until nBands).flatMap { b =>
        val lo = b * hashBits / nBands
        (0 to flips).map(lo + _)
      }
      assert(evaderFlips.size > radius, "the evader must exceed the radius")
      assert(!probeFinds(evaderFlips))
      // bands partition ALL hashBits bits: widths sum to the hash width
      assert((0 until nBands).map(b =>
        (b + 1) * hashBits / nBands - b * hashBits / nBands).sum == hashBits)
    }
  }

  test("withPhashProbes vs withPhashBands join finds a radius-8 pair with NO intact band") {
    import spark.implicits._
    // hd = 8 spread (3, 3, 2) across the 64-bit scheme's three bands:
    // every band differs (an exact-band join would miss the pair at any
    // layout without probes), but band 2 differs by exactly the flip
    // budget — the multi-probe guarantee, exercised through the REAL
    // kernel (mediaNearDupOf at 64-bit)
    val base = 0x0DDBA11CAFED00DAL
    val other = Seq(0, 1, 2, 21, 22, 23, 42, 43)
      .foldLeft(base)((h, b) => h ^ (1L << b))
    assert(java.lang.Long.bitCount(base ^ other) == 8)
    val hashed = Seq((1L, true, base), (10L, true, other), (11L, true, ~base))
      .toDF("doc_id", "decoded", "ahash")
    val got = Multimodal.mediaNearDupOf(hashed, probeMaxId = 5L, hashBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 8L)), got.toString)
    // and the probe row count is the documented amplification:
    // Sum over bands of C(width, <=2) = 232 + 232 + 254 = 718
    val probes = Multimodal.withPhashProbes(
      Seq((1L, base)).toDF("doc_id", "ahash"), 64).count()
    assert(probes == 718L, s"probe amplification: $probes")
  }

  test("the 64-bit default radius equals the q229 knee; 16-bit stays the q225 point (r19 verdict #3)") {
    // q229 measured the production pooled-8x8 lattice: precision 1.0
    // through hd<=8 (collisions only at hd 12-16) but recall 0.17 at
    // hd<=3 vs 0.82 at hd<=8 on the planted single-pixel watermark
    // family — so the production default must be the knee (the largest
    // swept radius with precision 1.0), not the certification lattice's
    // precision-bounded 3
    assert(Multimodal.PhashHamMax64 == 8, "the q229 knee")
    assert(Multimodal.SweepPhash64Radii.contains(Multimodal.PhashHamMax64),
      "the default must be a measured point on the q229 curve")
    assert(Multimodal.PhashHamMax16 == 3, "the q225 operating point")
    assert(Multimodal.SweepPhashRadii.contains(Multimodal.PhashHamMax16))
    assert(Multimodal.phashHamMax(64) == 8 && Multimodal.phashHamMax(16) == 3)
  }

  /** Block image: 256×256 whose 8×8 aHash cells are set per the given
    * 64-bit pattern (cell g bright iff bit g set) — pooled-hash ground
    * truth by construction. */
  private def blockImg(pattern: Long): BufferedImage = {
    val img = new BufferedImage(256, 256, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 256) {
      var x = 0
      while (x < 256) {
        val g = (y / 32) * 8 + (x / 32)
        img.setRGB(x, y, if (((pattern >>> g) & 1L) == 1L) 0xffffff else 0)
        x += 1
      }
      y += 1
    }
    img
  }

  test("imageAHash pools real-sized images onto the 8x8 grid (no failure, exact bits)") {
    import spark.implicits._
    // right half bright -> cells gx >= 4 above the mean -> 0xF0 per row
    val half = 0xF0F0F0F0F0F0F0F0L
    val rows = Multimodal.imageAHash(Seq(
        (1L, encodeImg(blockImg(half), "png")),
        (2L, encodeImg(blockImg(half), "bmp")),       // lossless re-encode
        (3L, encodeImg(blockImg(half ^ 1L), "png")),  // one cell inverted
        (4L, encodeImg(solid(65, 1, 9, 9, 9), "png")) // the old require-fail shape
      ).toDF("doc_id", "media"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((true, half)), f"pooled hash ${rows(1L)._2}%016x != expected")
    assert(rows(2L) == rows(1L), "lossless re-encode must hash identically")
    assert(java.lang.Long.bitCount(rows(3L)._2 ^ half) == 1,
      "a one-cell edit is hamming 1 on the pooled hash")
    assert(rows(4L)._1, "a 65-px image must hash, not fail the task")
  }

  test("jpeg re-encode of a real image stays within the near-dup threshold") {
    import spark.implicits._
    val img = blockImg(0xF0F0F0F0F0F0F0F0L)
    val rows = Multimodal.imageAHash(Seq(
        (1L, encodeImg(img, "png")), (2L, encodeImg(img, "jpg")))
      .toDF("doc_id", "media"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ham = java.lang.Long.bitCount(rows(1L) ^ rows(2L))
    assert(ham <= Multimodal.phashHamMax(64),
      s"jpeg re-encode drifted $ham bits — the production near-dup case must stay findable")
  }

  test("mediaNearDup kernel at 64-bit width finds the re-encoded/edited pair, skips the far one") {
    import spark.implicits._
    val base = 0xF0F0F0F0F0F0F0F0L
    val hashed = Multimodal.imageAHash(Seq(
        (1L, encodeImg(blockImg(base), "png")),            // probe (id < 10)
        (10L, encodeImg(blockImg(base), "bmp")),           // exact re-encode
        (11L, encodeImg(blockImg(base ^ 0x11L), "png")),   // hamming 2
        (12L, encodeImg(blockImg(0x00000000FFFFFFFFL), "png")) // far
      ).toDF("doc_id", "media"))
    val got = Multimodal.mediaNearDupOf(hashed, probeMaxId = 10L, hashBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 0L), (1L, 11L, 2L)), got.toString)
  }

  test("q141 kernel: a text edge and an image edge bridge into one component") {
    import spark.implicits._
    // 1–2 duplicate TEXT, 2–3 duplicate IMAGE: neither modality alone
    // groups all three; the cross-modal closure must
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta"),
      (3L, "totally different"), (4L, "loner")).toDF("doc_id", "text")
    val hashes = Seq((1L, true, 10L), (2L, true, 20L), (3L, true, 20L),
      (4L, false, -1L)).toDF("doc_id", "decoded", "ahash")
    val got = Multimodal.crossModalKeepOf(docs, hashes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L), got.toString)
  }

  test("resizeMedia: real decode -> nearest-neighbor rescale -> PNG round trip") {
    import spark.implicits._
    val base = 0xF0F0F0F0F0F0F0F0L
    val rows = Seq(
      (1L, encodeImg(blockImg(base), "png")),
      (2L, encodeImg(solid(13, 7, 10, 20, 30), "bmp")),
      (3L, "opaque non-image".getBytes("UTF-8"))).toDF("doc_id", "media")
    val resized = Multimodal.resizeMedia(rows, 8, 8).cache()
    val stats = Multimodal.imageStats(resized).collect()
      .map(r => r.getLong(0) -> r).toMap
    // real images come back as real decodable 8x8 PNGs
    assert(stats(1L).getBoolean(1) && stats(1L).getInt(2) == 8 && stats(1L).getInt(3) == 8)
    assert(stats(2L).getBoolean(1) && stats(2L).getInt(2) == 8)
    // solid stays solid through the chain (exact channel means)
    assert(stats(2L).getDouble(5) == 10.0 && stats(2L).getDouble(6) == 20.0 &&
      stats(2L).getDouble(7) == 30.0)
    // a BLOCK image's 8x8 nearest-neighbor downscale IS its pooled aHash
    // grid: hashing the resized image per-pixel must equal pooling the
    // original (cells are constant, so the picked pixel = the cell mean)
    val hashes = Multimodal.imageAHash(
        resized.filter(col("doc_id") === 1L).select(col("doc_id"), col("media")))
      .collect()
    assert(hashes(0).getLong(2) == base,
      f"resized-then-hashed ${hashes(0).getLong(2)}%016x != pooled $base%016x")
    // undecodable: passed through untouched, flagged
    val r3 = resized.filter(col("doc_id") === 3L).collect()(0)
    assert(!r3.getBoolean(2) &&
      new String(r3.getAs[Array[Byte]](1), "UTF-8") == "opaque non-image")
    resized.unpersist()
    // same-size resize is the identity on pixels (src index map y*n/n = y):
    // the aHash of a same-size resized image equals the original's
    val media8 = Seq((9L, encodeImg(blockImg(0x123456789ABCDEF0L), "png")))
      .toDF("doc_id", "media")
    val before = Multimodal.imageAHash(media8).collect()(0).getLong(2)
    val after = Multimodal.imageAHash(
        Multimodal.resizeMedia(media8, 256, 256).select(col("doc_id"), col("media")))
      .collect()(0).getLong(2)
    assert(after == before, f"identity resize changed the hash: $before%016x -> $after%016x")
  }

  test("partitionMedia routes undecodable blobs to quarantine with a triage reason") {
    import spark.implicits._
    val rows = Seq(
      (1L, encodeImg(solid(6, 6, 1, 2, 3), "png")),          // real image
      (2L, Multimodal.bmpOf("tiny corpus image")),           // real 4x4 BMP
      (3L, "plain text bytes".getBytes("UTF-8")),            // no magic
      (4L, encodeImg(solid(8, 8, 0, 0, 0), "png").take(12))) // corrupt PNG
      .toDF("doc_id", "media")
    val (keep, quarantine) = Multimodal.partitionMedia(rows)
    assert(keep.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    val q = quarantine.select(col("doc_id"), col("reason")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(q == Map(3L -> "no_magic", 4L -> "decode_failed"), q.toString)
    // no row dropped: the split is a partition, not a filter
    assert(keep.count() + quarantine.count() == 4L)
  }

  test("PhashIndex: a new batch matches the persisted corpus without re-hashing it") {
    import spark.implicits._
    val base = 0xF0F0F0F0F0F0F0F0L
    val corpus = Seq(
      (10L, encodeImg(blockImg(base), "png")),
      (11L, encodeImg(blockImg(0x00000000FFFFFFFFL), "png")),
      (12L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media")
    val dir = java.nio.file.Files.createTempDirectory("graft-phidx").toString
    graft.ops.PhashIndex.save(graft.ops.PhashIndex.build(corpus), dir)
    val idx = graft.ops.PhashIndex.load(spark, dir)
    assert(idx.count() == 2, "undecodable blobs carry no perceptual identity")
    val batch = Seq(
      (100L, encodeImg(blockImg(base), "bmp")),          // re-encode of 10
      (101L, encodeImg(blockImg(base ^ 0x11L), "png")),  // hamming 2 from 10
      (10L, encodeImg(blockImg(base), "png")),           // re-ingest: self-id excluded
      (102L, encodeImg(blockImg(0x0F0F0F0F00000000L), "png"))) // far
      .toDF("doc_id", "media")
    val got = graft.ops.PhashIndex.query(idx, batch, hashBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((100L, 10L, 0L), (101L, 10L, 2L)), got.toString)
  }

  test("PhashIndex.query leaves a caller-cached index cached (load once, probe many)") {
    import spark.implicits._
    val corpus = Seq((10L, encodeImg(blockImg(0xF0F0F0F0F0F0F0F0L), "png")))
      .toDF("doc_id", "media")
    val batch = Seq((100L, encodeImg(blockImg(0xF0F0F0F0F0F0F0F0L), "bmp")))
      .toDF("doc_id", "media")
    val idx = graft.ops.PhashIndex.build(corpus).cache()
    idx.count()
    graft.ops.PhashIndex.query(idx, batch, hashBits = 64).collect()
    assert(idx.storageLevel.useMemory || idx.storageLevel.useDisk,
      "the caller's index cache must survive a probe — evicting it makes " +
        "every subsequent batch re-scan the corpus index")
    idx.unpersist()
  }

  test("q229 planting mechanics: the single-pixel stamp flips exactly its own pooled cell on a flat 16x16 image") {
    import spark.implicits._
    // uniform gray: every pooled cell sits exactly AT the mean (no bit
    // set). The one white stamp pixel lifts cell (0,0) decisively above
    // the lifted mean while every other cell drops just below — so the
    // planted 64-bit distance is exactly 1: the minimal-watermark family
    // the q229 radius curve prices, pinned without data dependence.
    val media = Seq((1L, encodeImg(solid(16, 16, 100, 100, 100), "png")))
      .toDF("doc_id", "media")
    val orig = Multimodal.imageAHash(media).collect()(0)
    assert(orig.getAs[Boolean]("decoded") && orig.getAs[Long]("ahash") == 0L,
      "flat image: no cell above the mean")
    val stamped = Multimodal.imageAHash(
      graft.ops.Multimodal.watermarkMedia(media)
        .filter(col("stamped")).select(col("doc_id"), col("media"))).collect()(0)
    assert(stamped.getAs[Long]("ahash") == 1L,
      s"stamp must flip exactly bit 0, got ${stamped.getAs[Long]("ahash")}")
    // and the q229 corpus shape: a 16x16 text BMP really decodes at 16x16
    // (the pooled 64-bit branch), unlike the 4x4 certification BMPs
    val bmp16 = Multimodal.bmpOf("some document text for pixels", 16)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp16))
    assert(img != null && img.getWidth == 16 && img.getHeight == 16)
  }

  test("q144 kernel: only a NEAR-dup image edge bridges the text group and the exact-image group") {
    import spark.implicits._
    // 1–2 duplicate TEXT; 2's image hash 0x00F0 is hamming-2 from 3's
    // 0x00F3 (distinct values — only the near tier links them); 3–5
    // duplicate IMAGE (exact star); 4 unrelated. Expected closure:
    // {1,2,3,5} one component via text ∪ near ∪ exact, 4 alone. q141's
    // exact-only closure would leave {1,2} and {3,5} apart.
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta"),
      (3L, "other text"), (4L, "loner"), (5L, "fifth text")).toDF("doc_id", "text")
    val hashes = Seq((1L, false, -1L), (2L, true, 0x00F0L), (3L, true, 0x00F3L),
      (4L, true, 0x0F00L), (5L, true, 0x00F3L)).toDF("doc_id", "decoded", "ahash")
    val near = Multimodal.crossModalNearKeepOf(docs, hashes, hashBits = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(near == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L), near.toString)
    val exactOnly = Multimodal.crossModalKeepOf(docs, hashes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactOnly == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 3L),
      s"control: without the near tier the bridge must NOT exist: $exactOnly")
  }

  test("the certification corpus never sniffs as an image (q52/q53 hashes are stable)") {
    import spark.implicits._
    val sniffed = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
      .select(col("media")).as[Array[Byte]].collect()
      .count(Multimodal.looksDecodable)
    assert(sniffed == 0, s"$sniffed text blobs matched an image magic")
  }

  test("withPhashProbes (constant mask table) emits exactly the r20 per-row enumeration") {
    import spark.implicits._
    // reference: the r20 semantics — per hash, for each band (lo, width)
    // and each <=2-flip mask m, the row (band, ((h >>> lo) & wmask) ^ m)
    val hashBits = 64
    val (bands, flips) = Multimodal.phashBandScheme(hashBits)
    def slices = (0 until bands).map { b =>
      val lo = b * hashBits / bands
      (b, lo, (b + 1) * hashBits / bands - lo)
    }
    def refRows(h: Long): Seq[(Int, Long)] = slices.flatMap { case (b, lo, w) =>
      val wmask = if (w >= 64) -1L else (1L << w) - 1
      Multimodal.flipMasks(w, flips).map(m => (b, ((h >>> lo) & wmask) ^ m))
    }
    val rnd = new scala.util.Random(21L)
    val hs = Seq.fill(64)(rnd.nextLong()) :+ 0L :+ -1L :+ Long.MinValue
    val in = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "ahash")
    val got = Multimodal.withPhashProbes(in, hashBits)
      .select(col("doc_id"), col("band"), col("bhash"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = hs.zipWithIndex.flatMap { case (h, i) =>
      refRows(h).map { case (b, v) => (i.toLong, b, v) } }
    // exact multiset equality (and therefore the documented 718/hash
    // amplification and band-major enumeration order per doc)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
    assert(got.size == hs.size * 718)
  }

  test("withPhashProbes at a 0-flip lattice is withPhashBands (16-bit path untouched)") {
    import spark.implicits._
    val in = Seq((1L, 0xBEEFL), (2L, 0x0L), (3L, 0xFFFFL)).toDF("doc_id", "ahash")
    val probes = Multimodal.withPhashProbes(in, 16)
      .select("doc_id", "band", "bhash").collect().map(_.toSeq).toSet
    val bands = Multimodal.withPhashBands(in, 16)
      .select("doc_id", "band", "bhash").collect().map(_.toSeq).toSet
    assert(probes == bands)
  }
}
