package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Avi, ImageHash, Images}

/** In-repo AVI (RIFF) video codec: build→parse round-trips,
  * uncompressed-DIB frame pixel decode (bottom-up BGR rows, 4-byte
  * stride padding), stride-sampled frame walks, the frame-hash
  * dispatch that lets the perceptual machinery ride video payloads,
  * and total-function behavior on hostile bytes — the decoder runs
  * inside media-crawl tasks where a malformed payload must classify,
  * never throw. */
class AviSpec extends AnyFunSuite {

  private def fill(id: Long)(f: Int, k: Int): Int =
    (((id * 31 + f.toLong * 17 + k.toLong * 7) % 6) * 51).toInt

  test("build→parse round-trips every header field") {
    for ((w, h, nf, id) <- Seq((6, 5, 1, 0L), (7, 6, 2, 3L),
        (10, 8, 4, 11L), (9, 8, 3, 255L))) {
      val avi = Avi.encodeAviGray(w, h, nf, fill(id))
      val got = Avi.parseAvi(avi)
      assert(got.isDefined, s"$w x $h x$nf must parse")
      val a = got.get
      assert(a.width === w)
      assert(a.height === h)
      assert(a.totalFrames === nf)
      assert(a.usecPerFrame === 40000)
      assert(a.streams === 1)
      assert(a.handler === "DIB ")
      assert(a.bitsPerPixel === 24)
      assert(a.compression === 0)
      val stride = (3 * w + 3) / 4 * 4
      assert(a.moviBytes === nf.toLong * (8 + stride * h),
        "movi bytes must equal frames x (chunk header + padded rows)")
      assert(a.durationMs === 40L * nf)
    }
  }

  test("frame pixel decode round-trips the fill exactly (row order, BGR, stride)") {
    for ((w, h, nf, id) <- Seq((6, 5, 2, 1L), (7, 6, 3, 5L), (9, 8, 4, 42L))) {
      val avi = Avi.encodeAviGray(w, h, nf, fill(id))
      val grids = Avi.aviAllFramePixelGrids(avi, maxFrames = 16)
      assert(grids.length === nf)
      for ((g, f) <- grids.zipWithIndex) {
        val (gw, gh, px) = g
        assert(gw === w && gh === h)
        assert(px.length === 3 * w * h)
        for (k <- 0 until w * h; c <- 0 until 3)
          assert(px(3 * k + c) === fill(id)(f, k),
            s"frame $f pixel $k channel $c: gray r=g=b must round-trip")
      }
    }
  }

  test("stride sampling decodes every step-th frame only; maxFrames caps the take") {
    val avi = Avi.encodeAviGray(6, 5, 7, (f, _) => 10 * f)
    val sampled = Avi.aviAllFramePixelGrids(avi, maxFrames = 16, step = 3)
    // frames 0, 3, 6
    assert(sampled.map(_._3.head) === Seq(0, 30, 60))
    val capped = Avi.aviAllFramePixelGrids(avi, maxFrames = 2, step = 3)
    assert(capped.map(_._3.head) === Seq(0, 30))
    assert(Avi.aviAllFramePixelGrids(avi, maxFrames = 0) === Seq.empty)
    assert(Avi.aviAllFramePixelGrids(avi, maxFrames = 4, step = 0) === Seq.empty)
  }

  test("frameDHashes dispatches to the AVI walk and matches the PNG dHash per frame") {
    // a single-frame AVI and a PNG of the SAME pixel grid must hash
    // identically — the dispatch feeds the same grayGrid kernel
    val id = 9L
    val w = 9
    val h = 8
    val avi = Avi.encodeAviGray(w, h, 2, fill(id))
    val hashes = ImageHash.frameDHashes(avi, maxFrames = 8)
    assert(hashes.length === 2)
    for (f <- 0 until 2) {
      val png = Images.encodePng(w, h, k => fill(id)(f, k / 3))
      assert(java.lang.Long.valueOf(hashes(f)) === ImageHash.dhash64(png),
        s"frame $f: AVI frame hash must equal the PNG hash of the same grid")
    }
    // GIF payloads still route through the imageio reader
    val gif = Images.encodeAnimatedGifGray(7, 6, 2,
      (f, k) => (((3L * 31 + f.toLong * 17 + k.toLong * 7) % 6) * 51).toInt)
    assert(ImageHash.frameDHashes(gif, maxFrames = 8).length === 2)
  }

  test("byte-identical clips hash identically; a one-pixel edit moves at least one frame hash") {
    val a = Avi.encodeAviGray(9, 8, 2, fill(7L))
    val b = Avi.encodeAviGray(9, 8, 2, fill(7L))
    assert(ImageHash.frameDHashes(a, 8).toSeq ===
      ImageHash.frameDHashes(b, 8).toSeq)
  }

  test("non-AVI, truncated, and bit-flipped payloads are total (None/empty, never throw)") {
    val good = Avi.encodeAviGray(7, 6, 2, fill(3L))
    // truncations at every boundary class
    for (n <- Seq(0, 4, 11, 12, 20, 56, 100, good.length - 1)) {
      val t = java.util.Arrays.copyOf(good, n)
      Avi.parseAvi(t) // must not throw
      assert(Avi.aviAllFramePixelGrids(t, 8).isEmpty ||
        n === good.length - 1, // losing only the final pad byte may
                               // still decode the earlier frames
        s"truncation to $n must decode no complete payload")
      ImageHash.frameDHashes(t, 8) // must not throw
    }
    // deterministic bit flips across the whole payload
    var seed = 0x2545F4914F6CDD1DL
    for (_ <- 0 until 400) {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      val pos = ((seed >>> 1) % good.length).toInt
      val bit = (seed & 7).toInt
      val m = good.clone()
      m(pos) = (m(pos) ^ (1 << bit)).toByte
      Avi.parseAvi(m)
      Avi.aviAllFramePixelGrids(m, 8)
      ImageHash.frameDHashes(m, 8) // total under any single-bit damage
    }
    // foreign bytes
    assert(Avi.parseAvi("not an avi at all".getBytes("UTF-8")) === None)
    assert(Avi.parseAvi(null) === None)
    assert(Avi.aviAllFramePixelGrids(null, 8) === Seq.empty)
  }

  test("hostile headers decline: huge dimensions cannot wrap the stride math") {
    val good = Avi.encodeAviGray(6, 5, 1, fill(0L))
    // corrupt the avih width/height to near-Int.MaxValue values and
    // the strf to match — the Long-math bounds check must decline
    val b = java.nio.ByteBuffer.wrap(good)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // avih width @ offset 12(hdr)+12(LIST hdrl)+8(avih hdr)+32
    val avihBase = 12 + 12 + 8
    b.putInt(avihBase + 32, 0x40000000)
    b.putInt(avihBase + 36, 0x40000000)
    val strfBase = avihBase + 56 + 12 + 8 + 56 + 8
    b.putInt(strfBase + 4, 0x40000000)
    b.putInt(strfBase + 8, 0x40000000)
    val parsed = Avi.parseAvi(good)
    // metadata may parse (headers are structurally valid) …
    parsed.foreach { a => assert(a.width === 0x40000000) }
    // … but the pixel walk must decline, not allocate or wrap
    assert(Avi.aviAllFramePixelGrids(good, 8) === Seq.empty)
    // and the BUILDER fails loudly on dims strh's signed-16-bit
    // rcFrame cannot state, never emitting a self-contradicting header
    intercept[IllegalArgumentException] {
      Avi.encodeAviGray(40000, 1, 1, (_, _) => 0)
    }
  }

  test("a duplicate hdrl LIST cannot clobber the first header (first-wins)") {
    // splice a second hdrl — a copy of the real one with a lying avih
    // width — between the true hdrl and movi: the first header must
    // win, matching the movi/fmt/data/fact first-wins discipline
    val avi = Avi.encodeAviGray(6, 5, 2, fill(4L))
    val le = java.nio.ByteBuffer.wrap(avi)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hdrlSize = le.getInt(16)
    val hdrlLen = 8 + hdrlSize + (hdrlSize & 1)
    val dup = java.util.Arrays.copyOfRange(avi, 12, 12 + hdrlLen)
    // lie in the copy: avih width @ 12(LIST hdr + 'hdrl') + 8 + 32
    java.nio.ByteBuffer.wrap(dup)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(52, 999)
    val forged = avi.take(12 + hdrlLen) ++ dup ++ avi.drop(12 + hdrlLen)
    java.nio.ByteBuffer.wrap(forged)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, le.getInt(4) + hdrlLen)
    val got = Avi.parseAvi(forged)
    assert(got.exists(_.width === 6), s"first hdrl must win: $got")
    // and the frames still decode against the true header
    assert(Avi.aviAllFramePixelGrids(forged, 8).length === 2)
  }

  test("property sweep: random shapes round-trip exactly (stride classes included)") {
    // widths mod 4 ∈ {0,1,2,3} exercise every stride-padding class;
    // deterministic xorshift so a failure reproduces
    var seed = 0x5DEECE66DL
    for (trial <- 0 until 60) {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      val w = 1 + (((seed >>> 3) & 0x7FFFFFFF) % 23).toInt
      val h = 1 + (((seed >>> 13) & 0x7FFFFFFF) % 17).toInt
      val nf = 1 + (((seed >>> 23) & 0x7FFFFFFF) % 5).toInt
      val id = seed & 0xFFFF
      val avi = Avi.encodeAviGray(w, h, nf,
        (f, k) => (((id + f * 17 + k * 7) % 251) & 0xFF).toInt)
      val info = Avi.parseAvi(avi)
      assert(info.exists(a => a.width == w && a.height == h &&
        a.totalFrames == nf), s"trial $trial ($w x $h x$nf) must parse")
      val grids = Avi.aviAllFramePixelGrids(avi, maxFrames = 8)
      assert(grids.length === math.min(nf, 8), s"trial $trial frame count")
      for ((g, f) <- grids.zipWithIndex; k <- 0 until w * h) {
        val expect = (((id + f * 17 + k * 7) % 251) & 0xFF).toInt
        assert(g._3(3 * k) === expect,
          s"trial $trial frame $f pixel $k: $w x $h stride class ${3 * w % 4}")
      }
    }
  }

  test("top-down DIB (negative strf biHeight) decodes un-flipped; dimension lies decline") {
    val w = 6
    val h = 5
    val bottomUp = Avi.encodeAviGray(w, h, 1, (_, k) => 4 * k)
    // flip the strf biHeight sign AND reverse the stored row order —
    // the same visual image in top-down storage must decode to the
    // same pixels
    val strfBase = 12 + 12 + 8 + 56 + 12 + 8 + 56 + 8
    val stride = (3 * w + 3) / 4 * 4
    val moviData = 12 + 12 + 8 + 56 + 12 + 8 + 56 + 8 + 40 + 12 + 8
    val topDown = bottomUp.clone()
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfBase + 8, -h)
    for (r <- 0 until h; c <- 0 until stride)
      topDown(moviData + r * stride + c) =
        bottomUp(moviData + (h - 1 - r) * stride + c)
    val a = Avi.aviAllFramePixelGrids(bottomUp, 4)
    val b = Avi.aviAllFramePixelGrids(topDown, 4)
    assert(a.length === 1 && b.length === 1)
    assert(a.head._3.toSeq === b.head._3.toSeq,
      "top-down storage of the same image must decode identically")
    // a strf/avih extent disagreement means one header lies — decline
    val lying = bottomUp.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfBase + 8, h + 1)
    assert(Avi.aviAllFramePixelGrids(lying, 4) === Seq.empty)
    val lyingW = bottomUp.clone()
    java.nio.ByteBuffer.wrap(lyingW).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfBase + 4, w + 1)
    assert(Avi.aviAllFramePixelGrids(lyingW, 4) === Seq.empty)
  }

  test("frameCutSignal marks exactly the frame-hash discontinuities") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    // frames 0,1 identical; frame 2 flips every pixel ramp direction →
    // one boundary at frame 2 with a large hamming, none at frame 1
    val ramps = Avi.encodeAviGray(9, 8, 3,
      (f, k) => if (f < 2) 16 + (k % 9) * 14 else 128 - (k % 9) * 14 + 112)
    val rows = Seq((1L, ramps)).toDF("doc_id", "payload")
      .select(col("doc_id"),
        explode(ImageHash.frameCutSignal(col("payload"), 8)).as("c"))
      .select(col("c.frame_idx"), col("c.hamming"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2))
    assert(rows(0)._2 === 0, "identical frames must be hamming 0")
    assert(rows(1)._2 > 7, "the flipped frame must read as a cut")
    // under two frames: no phantom boundary
    val single = Avi.encodeAviGray(9, 8, 1, (_, k) => 16 + (k % 9) * 14)
    val none = Seq((1L, single)).toDF("doc_id", "payload")
      .select(explode(ImageHash.frameCutSignal(col("payload"), 8)))
      .count()
    assert(none === 0L)
  }

  test("unsupported codecs and lying-MJPG streams decline the pixel walk") {
    val good = Avi.encodeAviGray(6, 5, 1, fill(1L))
    val strfBase = 12 + 12 + 8 + 56 + 12 + 8 + 56 + 8
    // biCompression = 'MJPG' but the chunks are still DIB bits ('##db',
    // not JFIF '##dc') — a header lying about its own stream must
    // decline, never guess a decode
    val mjpg = good.clone()
    java.nio.ByteBuffer.wrap(mjpg).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfBase + 16, 0x47504A4D)
    assert(Avi.aviAllFramePixelGrids(mjpg, 8) === Seq.empty,
      "claimed-MJPG stream with DIB chunks must decline")
    assert(Avi.parseAvi(mjpg).exists(_.compression === 0x47504A4D),
      "metadata still classifies the compressed stream")
    // a genuinely unsupported codec ('XVID') declines too
    val xvid = good.clone()
    java.nio.ByteBuffer.wrap(xvid).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfBase + 16, 0x44495658)
    assert(Avi.aviAllFramePixelGrids(xvid, 8) === Seq.empty,
      "unsupported codec must decline — no guessed decode")
    // biBitCount = 8
    val pal = good.clone()
    java.nio.ByteBuffer.wrap(pal).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(strfBase + 14, 8.toShort)
    assert(Avi.aviAllFramePixelGrids(pal, 8) === Seq.empty)
  }

  // ── MJPEG-in-AVI (second real video codec) ─────────────────────────

  /** The 9×8 dHash class walk ([[graft.queries.GateFixtures
    * .dhashWalkGray]] convention) — smooth ±14 gradients, the fill the
    * cross-codec gates plant. */
  private def walk(sig: Long)(k: Int): Int = {
    val y = k / 9
    val x = k % 9
    var v = 128
    var i = 0
    while (i < x) {
      v += (if (((sig >>> (63 - (y * 8 + i))) & 1L) == 1L) -14 else 14)
      i += 1
    }
    v
  }

  test("MJPEG build→parse round-trips the header; frames decode through " +
      "the JPEG reader") {
    val mj = Avi.encodeAviMjpegGray(9, 8, 3, (f, k) => walk(f * 31L + 7)(k))
    val got = Avi.parseAvi(mj)
    assert(got.isDefined)
    val a = got.get
    assert(a.width === 9 && a.height === 8 && a.totalFrames === 3)
    assert(a.handler === "MJPG")
    assert(a.compression === 0x47504A4D)
    val grids = Avi.aviAllFramePixelGrids(mj, maxFrames = 8)
    assert(grids.length === 3)
    for ((gw, gh, px) <- grids) {
      assert(gw === 9 && gh === 8)
      assert(px.length === 3 * 9 * 8)
    }
    // step sampling takes every 2nd frame
    assert(Avi.aviAllFramePixelGrids(mj, maxFrames = 8, step = 2)
      .length === 2)
  }

  test("cross-codec: the same clip as DIB and MJPEG lands identical " +
      "frame dHashes and the same scene-cut signal") {
    for (d <- 0 until 20) {
      val s0 = 0x9E3779B97F4A7C15L * (d + 1)
      val s1 = 0xC2B2AE3D27D4EB4FL * (d + 3)
      def f(fr: Int, k: Int) = walk(if (fr == 0) s0 else s1)(k)
      val dib = Avi.encodeAviGray(9, 8, 2, f)
      val mj = Avi.encodeAviMjpegGray(9, 8, 2, f)
      val hd = ImageHash.frameDHashes(dib, 8)
      val hm = ImageHash.frameDHashes(mj, 8)
      assert(hd.length === 2 && hm.length === 2)
      // the ±14 sign margin dwarfs q=0.95 quantization noise — the
      // perceptual signatures are not merely within radius, they are
      // EQUAL (the cross-codec gate's hamming-0 assertion rides this)
      assert(hd === hm, s"d=$d: $hd vs $hm")
    }
  }

  test("MJPEG totality: truncations, bit flips, and a truncated JPEG " +
      "frame decline gracefully, never throw") {
    val good = Avi.encodeAviMjpegGray(9, 8, 2, (f, k) => walk(f + 1L)(k))
    for (n <- Seq(0, 4, 11, 12, 20, 56, 100, good.length / 2,
        good.length - 1)) {
      val t = java.util.Arrays.copyOf(good, n)
      Avi.parseAvi(t)
      Avi.aviAllFramePixelGrids(t, 8)
      ImageHash.frameDHashes(t, 8) // must not throw
    }
    var seed = 0x6A09E667F3BCC909L
    for (_ <- 0 until 400) {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      val pos = ((seed >>> 1) % good.length).toInt
      val m = good.clone()
      m(pos) = (m(pos) ^ (1 << (seed & 7).toInt)).toByte
      Avi.parseAvi(m)
      Avi.aviAllFramePixelGrids(m, 8)
      ImageHash.frameDHashes(m, 8) // total under any single-bit damage
    }
    // surgically truncate INSIDE the first JPEG frame chunk: shrink the
    // chunk's declared size so the payload is a cut-off JFIF stream —
    // the sampled decode fails and the walk ends with zero frames,
    // never an ImageIO exception escaping the task
    val b = java.nio.ByteBuffer.wrap(good)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hdrlSize = b.getInt(16)
    val moviOff = 12 + 8 + hdrlSize + (hdrlSize & 1) + 12
    val frameSize = b.getInt(moviOff + 4)
    val cut = good.clone()
    java.nio.ByteBuffer.wrap(cut).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(moviOff + 4, frameSize / 2)
    assert(Avi.aviAllFramePixelGrids(cut, 8) === Seq.empty)
  }

  test("MJPEG property sweep: random shapes decode with exact " +
      "dimensions and near-exact uniform fills") {
    var seed = 0x243F6A8885A308D3L
    def next(bound: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed >>> 1) % bound) + 1).toInt
    }
    for (_ <- 0 until 60) {
      val w = next(24)
      val h = next(20)
      val nf = next(4)
      val gray = next(120) * 2 // even values, the JPEG-exact class
      val mj = Avi.encodeAviMjpegGray(w, h, nf, (f, _) => gray)
      val info = Avi.parseAvi(mj)
      assert(info.exists(a => a.width == w && a.height == h &&
        a.totalFrames == nf), s"${w}x$h x$nf must parse")
      val grids = Avi.aviAllFramePixelGrids(mj, maxFrames = 8)
      assert(grids.length === math.min(nf, 8))
      for ((gw, gh, px) <- grids) {
        assert(gw === w && gh === h)
        // uniform frames are pure DC energy: every decoded channel
        // lands within quantization rounding of the fill
        assert(px.forall(v => math.abs(v - gray) <= 2),
          s"${w}x$h gray=$gray decoded outside ±2")
      }
    }
  }
}
