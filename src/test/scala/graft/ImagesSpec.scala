package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Containers, Images}

/** javax.imageio-backed JPEG/PNG/GIF codec: encode→decode round-trips
  * (PNG lossless exact, JPEG uniform-gray exact on even values),
  * header-only parsing, and total-function behavior on hostile bytes —
  * the decoder runs inside media-crawl tasks where a malformed payload
  * must classify, never throw. */
class ImagesSpec extends AnyFunSuite {

  private def fill(id: Long)(k: Int): Int = ((k.toLong * 31 + id * 7) % 256).toInt

  test("PNG encode→decode round-trips the fill function exactly (lossless)") {
    for ((w, h, id) <- Seq((1, 1, 0L), (8, 6, 3L), (17, 5, 11L), (64, 48, 255L))) {
      val png = Images.encodePng(w, h, fill(id))
      val got = Images.imagePixelValues(png)
      assert(got.isDefined, s"$w x $h must decode")
      assert(got.get.toSeq === (0 until 3 * w * h).map(fill(id)),
        s"$w x $h id=$id: PNG is lossless — decoded channels must equal the fill")
    }
  }

  test("JPEG uniform even gray decodes exactly uniform at the encoded value") {
    // uniform gray is pure DC energy with zero chroma; even values
    // round-trip exactly under the default quantization tables — the
    // invariant the multimodal_image_decode oracle pins
    for (gray <- Seq(28, 64, 128, 130, 226); (w, h) <- Seq((8, 8), (13, 7))) {
      val jpg = Images.encodeJpegGray(w, h, gray)
      val got = Images.imagePixelValues(jpg)
      assert(got.isDefined, s"gray=$gray $w x $h must decode")
      val units = got.get
      assert(units.length === 3 * w * h)
      assert(units.min === units.max, s"gray=$gray: decode must stay uniform")
      // EXACT equality, deliberately as strong as the
      // multimodal_image_decode oracle's closed-form assumption — if a
      // JDK change ever shifts quantization by even 1, this spec must
      // fail alongside the gate, not mask the drift with a tolerance
      assert(units.head === gray, s"gray=$gray decoded as ${units.head}")
    }
  }

  test("resizeNearest samples the exact nearest-neighbor grid, losslessly") {
    val w = 8; val h = 6
    val png = Images.encodePng(w, h, fill(9L))
    // identity resize returns the original pixels byte-for-byte
    assert(Images.imagePixelValues(Images.resizeNearest(png, w, h).get).get.toSeq
      === (0 until 3 * w * h).map(fill(9L)))
    // downscale: output (x, y, c) = fill(3*(floor(y*h/dh)*w + floor(x*w/dw)) + c)
    val dw = 4; val dh = 3
    val got = Images.imagePixelValues(Images.resizeNearest(png, dw, dh).get).get
    val expect = for (y <- 0 until dh; x <- 0 until dw; c <- 0 until 3)
      yield fill(9L)(3 * ((y * h / dh) * w + (x * w / dw)) + c)
    assert(got.toSeq === expect)
    // upscale replicates source pixels on the same grid rule
    val up = Images.imagePixelValues(Images.resizeNearest(png, 16, 6).get).get
    val expectUp = for (y <- 0 until 6; x <- 0 until 16; c <- 0 until 3)
      yield fill(9L)(3 * ((y * h / 6) * w + (x * w / 16)) + c)
    assert(up.toSeq === expectUp)
    // totality: corrupt/truncated input resizes to None, never throws
    assert(Images.resizeNearest(png.take(20), 4, 3).isEmpty)
    assert(Images.resizeNearest("noise".getBytes, 4, 3).isEmpty)
    assert(Images.resizeNearest(null, 4, 3).isEmpty)
  }

  test("GIF (the third JDK reader) decodes through the same entry points") {
    // ImageIO's GIF writer palette-quantizes, so the round-trip pin uses
    // a 2-color image (far under the 256-color palette: lossless). The
    // geometry is 16x8 deliberately: the JDK's GIF *writer* mis-encodes
    // some small geometries (10x4, 7x3 observed — trailing rows come
    // back wrong from its own reader), and this spec tests OUR decode
    // surface, not the JDK encoder; 16x8 round-trips byte-exactly.
    val w = 16; val h = 8
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val gif = bos.toByteArray
    assert(Images.parseImage(gif).contains(Images.ImageInfo("gif", w, h)))
    val px = Images.imagePixelValues(gif).get
    val expect = for (y <- 0 until h; x <- 0 until w;
                      c <- Seq(if ((x + y) % 2 == 0) 255 else 0, 0,
                               if ((x + y) % 2 == 0) 0 else 255)) yield c
    assert(px.toSeq === expect)
  }

  test("animated GIF: encode→per-frame decode round-trips the fill " +
      "exactly, frame count survives, and out-of-range/corrupt are None") {
    val (w, h, nf) = (7, 5, 4)
    def fill(f: Int, k: Int): Int = ((f * 17 + k * 7) % 6) * 51
    val gif = Images.encodeAnimatedGifGray(w, h, nf, fill)
    assert(Images.gifFrameCount(gif) === Some(nf))
    for (f <- 0 until nf) {
      val got = Images.gifFramePixels(gif, f).get
      assert(got.length === 3 * w * h, s"frame $f length")
      for (k <- 0 until w * h) {
        val v = fill(f, k)
        assert(got(3 * k) === v && got(3 * k + 1) === v && got(3 * k + 2) === v,
          s"frame $f pixel $k: want gray $v, " +
            s"got (${got(3 * k)}, ${got(3 * k + 1)}, ${got(3 * k + 2)})")
      }
    }
    assert(Images.gifFramePixels(gif, nf) === None, "index past last frame")
    assert(Images.gifFramePixels(gif, -1) === None)
    assert(Images.gifFrameCount("not a gif".getBytes("UTF-8")) === None)
    // a single-frame GIF counts 1 (the stills case)
    val still = Images.encodeAnimatedGifGray(3, 2, 1, (_, k) => (k % 4) * 60)
    assert(Images.gifFrameCount(still) === Some(1))
    // truncated animation: total decode, never a throw
    val cut = gif.take(gif.length / 2)
    Images.gifFrameCount(cut).foreach(n => assert(n >= 0))
    (0 until 5).foreach(i => Images.gifFramePixels(cut, i))
    // longest-valid-prefix: the one-pass grid decoder must serve the
    // same frames the per-frame probe can decode — a truncated frame k
    // never discards the good frames 0..k-1 (nor does any cut point
    // ever throw)
    for (c <- 0 to gif.length by math.max(1, gif.length / 40)) {
      val pre = gif.take(c)
      val all = Images.gifAllFramePixelGrids(pre, nf)
      val perFrame = Iterator.from(0)
        .map(i => Images.gifFramePixelGrid(pre, i))
        .takeWhile(_.isDefined).map(_.get).take(nf).toSeq
      assert(all.length >= perFrame.length,
        s"cut $c: one-pass served ${all.length} < per-frame ${perFrame.length}")
      all.zip(perFrame).zipWithIndex.foreach { case (((w1, h1, p1), (w2, h2, p2)), i) =>
        assert(w1 === w2 && h1 === h2 && p1.toSeq === p2.toSeq, s"cut $c frame $i")
      }
    }
    // dimension sweep incl. frames under 5 rows tall — the geometry the
    // JDK writer's default INTERLACED encoding scrambles on read-back
    // (probed: every h < 5 failed before the encoder forced
    // interlaceFlag FALSE); this pins the non-interlaced contract
    for (ww <- Seq(3, 4, 8); hh <- Seq(2, 3, 4, 6)) {
      val g2 = Images.encodeAnimatedGifGray(ww, hh, 2, fill)
      (0 until 2).foreach { f =>
        val got = Images.gifFramePixels(g2, f).get
        (0 until ww * hh).foreach(k =>
          assert(got(3 * k) === fill(f, k), s"${ww}x$hh frame $f pixel $k"))
      }
    }
  }

  test("in-repo GIF89a encoder: golden bytes (JVM-independent fixture) " +
      "and LZW width growth through every code size") {
    // the gate fixture's exact shape for doc_id=3: any byte drift here
    // would silently shift the driver's multimodal_gif_frames compare
    val id = 3L
    val fx = Images.encodeAnimatedGifGray((4 + id % 5).toInt,
      (3 + id % 4).toInt, (2 + id % 3).toInt,
      (f, k) => (((id * 31 + f.toLong * 17 + k.toLong * 7) % 6) * 51).toInt)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(fx).map("%02x".format(_)).mkString
    assert(md === GOLDEN_GIF_MD5,
      s"fixture bytes drifted (md5 $md) — the encoder must be " +
        "deterministic across JVMs; update the golden ONLY for an " +
        "intentional format change (and expect a driver re-baseline)")
    // a 256-value 200x200 noise image drives the dictionary through
    // code sizes 9..12 and table resets — decode must stay exact
    val (bw, bh) = (200, 200)
    def noise(f: Int, k: Int): Int = ((k.toLong * 2654435761L + f) >>> 7).toInt & 0xFF
    val big = Images.encodeAnimatedGifGray(bw, bh, 2, noise)
    (0 until 2).foreach { f =>
      val got = Images.gifFramePixels(big, f).get
      assert(got.length === 3 * bw * bh)
      var k = 0
      while (k < bw * bh) {
        assert(got(3 * k) === noise(f, k), s"noise frame $f pixel $k")
        k += 1
      }
    }
  }

  // computed from the committed encoder (pure integer arithmetic — no
  // JDK codec in the write path, so the same on every JVM)
  private val GOLDEN_GIF_MD5 = "9b064859bab041e8ffad796eaa8fb1b5"

  test("parseImage reads format + dimensions without a pixel decode") {
    val png = Images.encodePng(19, 4, _ => 7)
    val jpg = Images.encodeJpegGray(5, 23, 128)
    assert(Images.parseImage(png).contains(Images.ImageInfo("png", 19, 4)))
    val ji = Images.parseImage(jpg)
    assert(ji.isDefined && ji.get.format.startsWith("jp") &&
      ji.get.width === 5 && ji.get.height === 23)
  }

  test("the magic gate declines WAV/BMP/text payloads before ImageIO runs") {
    val wav = Containers.buildWav(1, 8000, 16, Array.tabulate(40)(_.toByte))
    val bmp = Containers.buildBmp(5, 4)
    for (p <- Seq(wav, bmp, "hello world".getBytes("UTF-8"),
        Array.emptyByteArray, null)) {
      assert(Images.parseImage(p).isEmpty)
      assert(Images.imagePixelValues(p).isEmpty)
    }
  }

  test("fuzz: decode is total over hostile image bytes (None, never throw)") {
    val rnd = new scala.util.Random(0xBADF00D)
    def check(p: Array[Byte]): Unit = {
      assert(Images.parseImage(p).isInstanceOf[Option[_]])
      assert(Images.imagePixelValues(p).isInstanceOf[Option[_]])
      // perceptual hashes ride the same decode: total, null on corrupt
      graft.multimodal.ImageHash.dhash64(p)
      graft.multimodal.ImageHash.ahash64(p)
    }
    val png = Images.encodePng(16, 12, fill(5L))
    val jpg = Images.encodeJpegGray(16, 12, 128)
    // truncation at every prefix: header-valid-but-stream-truncated is
    // the classic ImageIO throw site — must come back None
    for (base <- Seq(png, jpg); cut <- 0 to base.length)
      check(base.take(cut))
    // single-byte corruptions of valid streams (CRC breaks, marker
    // smashes) and magic-preserving noise behind a real signature
    for (_ <- 0 until 1000; base <- Seq(png, jpg)) {
      val p = base.clone()
      p(rnd.nextInt(p.length)) = rnd.nextInt().toByte
      check(p)
    }
    for (_ <- 0 until 500) {
      val noise = new Array[Byte](8 + rnd.nextInt(300))
      rnd.nextBytes(noise)
      System.arraycopy(png, 0, noise, 0, 8) // PNG magic, garbage body
      check(noise)
      val jn = noise.clone(); jn(0) = 0xFF.toByte; jn(1) = 0xD8.toByte
      jn(2) = 0xFF.toByte
      check(jn)
    }
  }

  test("dHash golden vectors: gradient signs, MSB-first packing, " +
      "brightness invariance") {
    import graft.multimodal.ImageHash
    // monotone left→right gradient: every g(x) < g(x+1) → all bits 0
    val asc = Images.encodePng(18, 8, k => ((k / 3) % 18) * 14)
    assert(ImageHash.dhash64(asc) === 0L)
    // reversed gradient: every g(x) > g(x+1) → all 64 bits set
    val desc = Images.encodePng(18, 8, k => (17 - (k / 3) % 18) * 14)
    assert(ImageHash.dhash64(desc) === -1L)
    // uniform: no gradient anywhere
    assert(ImageHash.dhash64(Images.encodePng(9, 8, _ => 77)) === 0L)
    // ONE bright column at grid cell x=3 (w=9 → sx=x): bits set where
    // g(3) > g(4) i.e. x=3 in every row → per-row byte 0001_0000
    val col = Images.encodePng(9, 8, k => if ((k / 3) % 9 == 3) 200 else 10)
    assert(ImageHash.dhash64(col) === 0x1010101010101010L)
    // dHash is invariant under a global brightness shift (gradient
    // signs survive any monotone per-pixel transform)
    val dim = Images.encodePng(18, 8, k => ((k / 3) % 18) * 14 / 2 + 9)
    assert(ImageHash.dhash64(dim) === ImageHash.dhash64(asc))
    // corrupt → null (boxed), never a throw
    assert(ImageHash.dhash64("not an image".getBytes("UTF-8")) === null)
    assert(ImageHash.dhash64(null) === null)
  }

  test("aHash golden vectors: mean threshold, floor-mean tie handling") {
    import graft.multimodal.ImageHash
    // left half 0, right half 200 (16 wide → sx = 2x): cells x≥4 are
    // bright; mean = 100 → per-row byte 0000_1111
    val half = Images.encodePng(16, 8, k => if ((k / 3) % 16 < 8) 0 else 200)
    assert(ImageHash.ahash64(half) === 0x0F0F0F0F0F0F0F0FL)
    // uniform: every cell EQUALS the mean — strict > leaves all bits 0
    assert(ImageHash.ahash64(Images.encodePng(8, 8, _ => 123)) === 0L)
    // one bright cell: mean floors to (63·10 + 240)/64 = 13 → only the
    // bright cell (top-left = bit 63) clears it
    val one = Images.encodePng(8, 8, k => if (k / 3 == 0) 240 else 10)
    assert(ImageHash.ahash64(one) === java.lang.Long.MIN_VALUE)
    assert(ImageHash.ahash64(Array[Byte](1, 2, 3)) === null)
  }

  test("perceptual near-dup: planted perturbation stays within radius, " +
      "distinct images differ") {
    import graft.multimodal.ImageHash
    val base = Images.encodePng(32, 24, fill(9L))
    // small local perturbation: +40 on a 3-wide pixel stripe — most
    // gradient cells keep their sign, so Hamming stays small
    val pert = Images.encodePng(32, 24,
      k => if ((k / 3) % 32 == 5) (fill(9L)(k) + 40) % 256 else fill(9L)(k))
    val d = java.lang.Long.bitCount(
      ImageHash.dhash64(base) ^ ImageHash.dhash64(pert))
    assert(d <= 16, s"perturbed hamming $d")
    val other = Images.encodePng(32, 24, fill(123L))
    assert(ImageHash.dhash64(base) !== ImageHash.dhash64(other))
  }

  test("nearDupPairs: planted pairs surface, corrupt payloads pair with " +
      "nothing") {
    import graft.multimodal.ImageHash
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = Images.encodePng(16, 12, fill(3L))
    // unsampled-column perturbation: hash-identical, byte-different
    val a2 = Images.encodePng(16, 12,
      k => if ((k / 3) % 16 == 2) (fill(3L)(k) + 97) % 256 else fill(3L)(k))
    val b = Images.encodePng(16, 12, fill(77L))
    val rows = Seq(
      (1L, a), (2L, a2), (3L, b),
      (4L, "corrupt".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    val pairs = ImageHash.nearDupPairs(rows, col("doc_id"), col("payload"),
        maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)), s"planted pair missing: $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"undecodable payloads must pair with nothing: $pairs")
  }

  test("animation frame hashes: per-frame dHash, cap honored, totality; " +
      "shared frames pair animations") {
    import graft.multimodal.ImageHash
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 3 frames: ascending gradient, descending, ascending again
    val anim = Images.encodeAnimatedGifGray(18, 8, 3,
      (f, k) => if (f == 1) (17 - k % 18) * 14 else (k % 18) * 14)
    val hs = ImageHash.frameDHashes(anim, maxFrames = 8)
    assert(hs.toSeq === Seq(0L, -1L, 0L)) // the still-image golden vectors
    assert(ImageHash.frameDHashes(anim, maxFrames = 2).toSeq === Seq(0L, -1L))
    assert(ImageHash.frameDHashes("junk".getBytes("UTF-8"), 8).isEmpty)
    assert(ImageHash.frameDHashes(null, 8).isEmpty)
    // two animations sharing ONE frame (the descending gradient) pair;
    // an unrelated checker animation pairs with neither
    val other = Images.encodeAnimatedGifGray(18, 8, 2,
      (f, k) => if (f == 0) (17 - k % 18) * 14 else (k % 9 % 2) * 102)
    val lone = Images.encodeAnimatedGifGray(8, 8, 2,
      (f, k) => if ((k / 8 + k % 8 + f) % 2 == 0) 0 else 204)
    val pairs = ImageHash.animationNearDupPairs(
        Seq((1L, anim), (2L, other), (3L, lone)).toDF("doc_id", "payload"),
        col("doc_id"), col("payload"), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 0)), s"got $pairs")
  }

  test("audioFeatures: hand-computed energy / zero-crossings / peak") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // samples [3, -2, 0, -1, 5]: energy 39, crossings 4 (v>=0 sign
    // convention puts 0 on the positive side), peak 5
    val data = java.nio.ByteBuffer.allocate(10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(3, -2, 0, -1, 5).foreach(v => data.putShort(v.toShort))
    val rows = Seq(
      (1L, Containers.buildWav(1, 8000, 16, data.array())),
      (2L, Containers.buildWav(1, 8000, 16, Array.emptyByteArray)),
      (3L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = graft.multimodal.Multimodal.audioFeatures(spark, rows)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L), "non-WAV payloads are skipped")
    assert((out(1L).n_samples, out(1L).energy, out(1L).zero_crossings,
      out(1L).peak) === ((5L, 39L, 4L, 5L)))
    assert((out(2L).n_samples, out(2L).energy, out(2L).zero_crossings,
      out(2L).peak) === ((0L, 0L, 0L, 0L)))
  }

  test("decoded image stats flow through Multimodal.decodeFeatures as length 4") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rows = Seq(
      (1L, "image/png", Images.encodePng(4, 3, fill(1L)), Map.empty[String, String]),
      (2L, "image/jpeg", Images.encodeJpegGray(6, 2, 130), Map.empty[String, String]),
      (3L, "text/plain", "not an image".getBytes("UTF-8"), Map.empty[String, String]))
      .toDF("doc_id", "modality", "payload", "meta")
    val out = graft.multimodal.Multimodal.decodeFeatures(spark, rows)
      .collect().map(f => f.doc_id -> f).toMap
    val exp1 = (0 until 36).map(fill(1L))
    assert(out(1L).features.toSeq ===
      Seq(36d, exp1.sum.toDouble, exp1.min.toDouble, exp1.max.toDouble))
    assert(out(2L).features.toSeq === Seq(36d, 36d * 130, 130d, 130d))
    assert(out(3L).features.length === 16, "non-media payloads keep the stub histogram")
  }

  test("pHash: DCT spectral hash — constant images DECLINE, the " +
      "median split balances, power-of-two contrast is FP-exact, " +
      "aligned nearest-resize is identity, totality holds") {
    import graft.multimodal.{ImageHash, Images}
    def grayPng(w: Int, h: Int, v: Int => Int): Array[Byte] =
      Images.encodePng(w, h, k => v(k / 3)) // equal channels: luma = v
    // constant image: no spectral structure — every bit would be a
    // floating-point noise sign, so the kernel DECLINES (the AudioHash
    // degenerate-signature convention) instead of minting an
    // accidental equivalence class
    assert(ImageHash.phash64(grayPng(16, 12, _ => 77)) === null)
    // structured image: lower-median split sets exactly 32 bits when
    // the 64 block coefficients are distinct (deterministic fixture)
    val struct = grayPng(16, 12, p => ((p * 31 + p * p * 7) % 120) + 4)
    val sig = ImageHash.phash64(struct)
    assert(java.lang.Long.bitCount(sig.longValue) === 32)
    // byte clone: identical
    assert(ImageHash.phash64(grayPng(16, 12,
      p => ((p * 31 + p * p * 7) % 120) + 4)) === sig)
    // 2× gray values (≤ 254): luma doubles exactly, the DCT scales by
    // an exact power of two, the median comparison is unchanged
    val doubled = grayPng(16, 12, p => (((p * 31 + p * p * 7) % 120) + 4) * 2)
    assert(ImageHash.phash64(doubled) === sig)
    // 32×32-aligned nearest resize: the pHash resampler composes with
    // resizeNearest's floor grid, so the hash is bit-identical
    val big = grayPng(64, 64, p => ((p * 13 + 5) % 110) + 8)
    val small = Images.resizeNearest(big, 32, 32).get
    assert(ImageHash.phash64(big) === ImageHash.phash64(small))
    // a structurally different image lands far away (deterministic)
    val other = grayPng(16, 12, p => if ((p / 16) % 2 == 0) 10 else 120)
    assert(java.lang.Long.bitCount(
      sig.longValue ^ ImageHash.phash64(other).longValue) > 7)
    // totality: corrupt/foreign/null payloads hash to null
    assert(ImageHash.phash64("not an image".getBytes) === null)
    assert(ImageHash.phash64(null) === null)
    assert(ImageHash.phash64(struct.take(20)) === null)
    // byte-mutation fuzz: hash-or-decline, never a throw
    val rnd = new scala.util.Random(0x9147A5)
    for (_ <- 0 until 300) {
      val c = struct.clone()
      c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      ImageHash.phash64(c)
    }
    for (cut <- 0 to struct.length by 7) ImageHash.phash64(struct.take(cut))
    // SQL surface
    val spark = SparkTestSession.spark
    graft.ops.GraftFunctions.register(spark)
    assert(spark.sql("SELECT image_phash64(cast(NULL AS binary))")
      .head().isNullAt(0))
  }

  test("framePHashes: spectral per-frame family — clone identity, " +
      "degenerate frames decline individually, totality") {
    import graft.multimodal.{ImageHash, Images}
    // frame 0 structured, frame 1 UNIFORM (degenerate — declined),
    // frame 2 structured: two signatures survive
    val anim = Images.encodeAnimatedGifGray(6, 5, 3, (f, k) =>
      if (f == 1) 102 else (((f * 17 + k * 7) % 6) * 51))
    val sigs = ImageHash.framePHashes(anim, maxFrames = 8)
    assert(sigs.length === 2)
    // byte clone: identical signature sequence
    assert(ImageHash.framePHashes(anim.clone(), 8).toSeq === sigs.toSeq)
    // totality: foreign bytes yield an empty array, never a throw
    assert(ImageHash.framePHashes("not a gif".getBytes, 8).isEmpty)
    // SQL surface
    val spark = SparkTestSession.spark
    graft.ops.GraftFunctions.register(spark)
    import spark.implicits._
    val viaSql = Seq(Tuple1(anim)).toDF("p")
      .selectExpr("gif_frame_phashes(p) AS s").head().getSeq[Long](0)
    assert(viaSql === sigs.toSeq)
  }
}
