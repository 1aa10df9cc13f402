package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextKernels
import org.apache.spark.unsafe.types.UTF8String

/** Seeded randomized properties for the round-3 kernels: hundreds of
  * adversarial inputs per law, deterministic across runs. */
class KernelPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  /** Random BMP string biased toward the interesting ranges: ASCII,
    * controls, combining marks, zero-widths, CJK, hangul jamo. */
  private def randomText(len: Int): String = {
    val ranges = Array(
      (0x20, 0x7E), (0x00, 0x1F), (0x0300, 0x036F), (0x200B, 0x200D),
      (0x4E00, 0x4E80), (0x1100, 0x1160), (0xC0, 0xFF), (0xFEFF, 0xFEFF))
    val sb = new StringBuilder
    (0 until len).foreach { _ =>
      val (lo, hi) = ranges(rnd.nextInt(ranges.length))
      sb.append((lo + rnd.nextInt(hi - lo + 1)).toChar)
    }
    sb.toString
  }

  private def clean(s: String): String =
    TextKernels.nfcClean(UTF8String.fromString(s)).toString

  test("nfcClean is idempotent and junk-free on adversarial unicode") {
    (0 until 500).foreach { i =>
      val s = randomText(1 + rnd.nextInt(40))
      val once = clean(s)
      assert(clean(once) === once, s"not idempotent on case $i: ${s.map(_.toInt)}")
      assert(java.text.Normalizer.isNormalized(once, java.text.Normalizer.Form.NFC),
        s"output not NFC on case $i")
      once.foreach { ch =>
        assert(!((ch < 0x20 && ch != '\t' && ch != '\n' && ch != '\r') ||
          (ch >= 0x7F && ch <= 0x9F) ||
          (ch >= 0x200B && ch <= 0x200D) || ch == 0xFEFF),
          s"junk char ${ch.toInt} survived on case $i")
      }
    }
  }

  test("quantization error is bounded by half a step per element") {
    import graft.similarity.Quantize
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 3)))
    }
    val df = vecs.toDF("id", "v")
    val qs = Quantize.quantize(col("v"))
    val rows = df.select(col("id"), col("v"),
        qs.getField("scale").as("scale"),
        Quantize.dequantize(qs).as("deq"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val scale = r.getDouble(2)
      val deq = r.getSeq[Double](3)
      val amax = v.map(math.abs).max
      assert(math.abs(scale - amax / 127.0) <= math.ulp(amax),
        s"scale off for id ${r.getLong(0)}")
      v.zip(deq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 2 + math.ulp(amax) * 4,
          s"reconstruction error ${math.abs(x - y)} > step/2 $scale for id ${r.getLong(0)}")
      }
    }
  }

  test("hash kernels skip null tokens instead of NPEing the task") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Any*): GenericArrayData =
      new GenericArrayData(xs.map {
        case s: String => UTF8String.fromString(s)
        case null => null
      }.toArray[Any])
    // the SQL surface exposes these kernels to arbitrary arrays, where
    // a null element is one cast away; a null must act like an absent
    // token (concatWs semantics), identically across the siblings
    val clean = arr("a", "b")
    val dirty = arr("a", null, "b")
    assert(TextKernels.simhash64(dirty) === TextKernels.simhash64(clean))
    assert(TextKernels.minhashSig(dirty, 8).array.toSeq
      === TextKernels.minhashSig(clean, 8).array.toSeq)
    assert(TextKernels.hashEmbed(dirty, 16).array.toSeq
      === TextKernels.hashEmbed(clean, 16).array.toSeq)
    assert(TextKernels.rollingMin(arr("a", null), 2)
      === TextKernels.rollingMin(arr("a"), 2))
  }

  test("centered LSH surfaces a stale center instead of half-centering") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vec = new GenericArrayData(Array.tabulate(8)(_.toDouble))
    // matching center and the intentional empty (=uncentered) case work
    TextKernels.lshBitsPackedCentered(vec, 4, Array.fill(8)(0.5))
    TextKernels.lshBitsPackedCentered(vec, 4, Array.emptyDoubleArray)
    // a center of the WRONG dim (stale persisted mean after an
    // embedding upgrade) must throw, not center half the dimensions
    val e = intercept[IllegalArgumentException] {
      TextKernels.lshBitsPackedCentered(vec, 4, Array.fill(4)(0.5))
    }
    assert(e.getMessage.contains("center dim"))
  }

  test("trailing-split and salt stay total on hostile random bytes") {
    // regression net: random strings through the byte-level parity ops
    (0 until 300).foreach { _ =>
      val s = randomText(rnd.nextInt(20))
      val buckets = graft.core.Salt.bucket(s.getBytes("UTF-8"), 24)
      assert(buckets >= 0 && buckets < 24)
    }
  }

  test("html extraction round-trips ARBITRARY escaped text (oracle formula)") {
    import graft.ops.HtmlKernels
    // the gate contract over any corpus text, not just the sf tables:
    // extract(page(esc(t))) must equal the webCte formula's restatement
    def collapse(s: String): String = {
      val sb = new StringBuilder
      var pend = false
      s.foreach { c =>
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
          if (sb.nonEmpty) pend = true
        } else { if (pend) { sb.append(' '); pend = false }; sb.append(c) }
      }
      sb.toString
    }
    (0 until 400).foreach { i =>
      val t = randomText(rnd.nextInt(60))
      val html = graft.queries.GateFixtures.Web.html(t, "src")
      val got = HtmlKernels
        .extractText(UTF8String.fromString(html)).toString
      val coll = collapse(t)
      val want =
        if (coll.isEmpty) "src\nlink text"
        else "src\n" + coll + "\nlink text"
      assert(got === want, s"case $i: ${t.map(_.toInt).mkString(",")}")
      // metadata scan is total on the same pages
      graft.ops.HtmlKernels.metaOf(UTF8String.fromString(html))
    }
  }

  test("url normalization is idempotent; host extraction is stable") {
    import graft.ops.UrlKernels
    def norm(u: String): String =
      UrlKernels.normalizeUrl(UTF8String.fromString(u)).toString
    def host(u: String): String = {
      val h = UrlKernels.urlHost(UTF8String.fromString(u))
      if (h == null) null else h.toString
    }
    val schemes = Array("HTTP", "https", "FtP", "wss")
    val hosts = Array("WWW.Example.COM", "api.site.org.", "H-0.io",
      "[2001:DB8::1]", "[::1]")
    val ports = Array("", ":80", ":443", ":8080", ":")
    val users = Array("", "user@", "a:b@")
    val paths = Array("", "/", "/P/x", "/a//b.")
    val queries = Array("", "?", "?b=2&a=1", "?utm_source=x&z=1&",
      "?x=1&x=0&flag", "?utm_a=1&utm_b=2")
    val frags = Array("", "#f", "#a?b")
    (0 until 600).foreach { i =>
      def pick(a: Array[String]) = a(rnd.nextInt(a.length))
      val u = pick(schemes) + "://" + pick(users) + pick(hosts) +
        pick(ports) + pick(paths) + pick(queries) + pick(frags)
      val once = norm(u)
      assert(norm(once) === once, s"not idempotent on $u -> $once")
      assert(host(once) === host(u), s"host unstable on $u")
    }
  }
}
