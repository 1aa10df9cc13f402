package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{HtmlKernels, UrlKernels}

/** HTML→text extraction and URL canonicalization kernels: every rule of
  * the documented contracts, plus totality on hostile input — both run
  * per-row inside crawl-scale codegen, so a throw is a task failure. */
class HtmlExtractSpec extends AnyFunSuite {

  private def extract(h: String): String =
    HtmlKernels.extractText(UTF8String.fromString(h)).toString
  private def ppm(h: String): Long =
    HtmlKernels.linkTextPpm(UTF8String.fromString(h))
  private def norm(u: String): String =
    UrlKernels.normalizeUrl(UTF8String.fromString(u)).toString
  private def host(u: String): String = {
    val r = UrlKernels.urlHost(UTF8String.fromString(u))
    if (r == null) null else r.toString
  }

  test("blocks: block tags split, inline tags vanish, whitespace collapses") {
    val html = "<html><body><h1>Title  here</h1>" +
      "<p>one <b>two</b>\n\t three</p><div>four</div>" +
      "<span>same</span> <i>block</i></body></html>"
    assert(extract(html) == "Title here\none two three\nfour\nsame block")
  }

  test("script/style/title/noscript content drops whole; comments drop") {
    val html = "<head><title>SEO junk</title><style>p { color: red }</style>" +
      "<script>if (a < b) { x(\"</div>\"); }</script>" +
      "<noscript><img src=x></noscript></head>" +
      "<body><!-- hidden <p>note</p> -->kept</body>"
    assert(extract(html) == "kept")
    // close tag inside a raw-text element only counts at a name boundary
    assert(extract("<script>var s = '</scriptx>';</script>after") == "after")
    // unterminated raw text / comment consume to end, never throw
    assert(extract("before<script>var x=1;") == "before")
    assert(extract("before<!-- no end") == "before")
  }

  test("entities: named, numeric, hex; nbsp → space; unknown stays literal") {
    assert(extract("a &amp; b &lt;tag&gt; &quot;q&quot; &apos;s&apos;") ==
      "a & b <tag> \"q\" 's'")
    assert(extract("x&nbsp;y") == "x y")
    assert(extract("&#65;&#x42;&#x1F600;") == "AB\ud83d\ude00")
    assert(extract("5 &undefined; &#xZZ; & plain") == "5 &undefined; &#xZZ; & plain")
  }

  test("quote-aware tag scan and literal '<'") {
    assert(extract("<a href=\"x>y\" title='p>q'>t</a>") == "t")
    assert(extract("1 < 2 and 2 > 1") == "1 < 2 and 2 > 1")
    assert(extract("<?xml version=\"1.0\"?><!DOCTYPE html>doc") == "doc")
    // unterminated tag consumes to end (total), text before it survives
    assert(extract("keep<div attr=\"unterminated") == "keep")
  }

  test("link ppm: anchor share of extracted code points, floor, 0 on empty") {
    // full text "abcde fghij" (11 cps), anchor "fghij" (5 cps)
    val html = "<p>abcde <a href=\"/x\">fghij</a></p>"
    assert(ppm(html) == 5L * 1000000L / 11L)
    assert(ppm("<p>no links</p>") == 0L)
    assert(ppm("<script>x()</script>") == 0L) // empty extract
    assert(ppm("<a>all anchor</a>") == 1000000L)
    // astral-plane chars count once (code points, not UTF-16 units)
    assert(ppm("<a>\ud83d\ude00</a>\ud83d\ude00") == 500000L)
    // nested/unbalanced anchors stay total and bounded
    assert(ppm("<a><a>x</a>y</a>z</a>") == 2L * 1000000L / 3L)
  }

  test("url_normalize: every documented rule") {
    // scheme+host lowercase, trailing host dot, default port, tracking
    // params drop, survivors sort, fragment drops
    assert(norm("HTTP://WWW.Example.COM.:80/Path/X?utm_source=f&b=2&a=1&fbclid=z#frag") ==
      "http://www.example.com/Path/X?a=1&b=2")
    // userinfo drops, https:443 strips, empty path → '/'
    assert(norm("https://user:pw@API.Site.ORG:443?x=1") ==
      "https://api.site.org/?x=1")
    // non-default port survives; non-http(s) scheme keeps its port
    assert(norm("https://h.io:8080/p") == "https://h.io:8080/p")
    assert(norm("ftp://Files.X.com:21/pub") == "ftp://files.x.com:21/pub")
    // bare ':' strips; empty params drop; emptied query drops its '?'
    assert(norm("http://h.io:/a?&&utm_campaign=x&") == "http://h.io/a")
    // duplicate names sort by full param string; valueless param kept
    assert(norm("http://h.io/?x=2&x=1&flag") == "http://h.io/?flag&x=1&x=2")
    // no "://" → unchanged (total on garbage)
    assert(norm("not a url") == "not a url")
    assert(norm("") == "")
    assert(norm("://x") == "://x")
  }

  test("url_host: lowercase host or null") {
    assert(host("HTTPS://User@WWW.Site.COM.:443/p?q#f") == "www.site.com")
    assert(host("http://h.io") == "h.io")
    assert(host("garbage") == null)
    assert(host("http://") == null)
  }

  test("bracketed IPv6 hosts: inner colons are never a port") {
    assert(norm("http://[::1]/p") == "http://[::1]/p")
    assert(norm("http://[::1]:80/p") == "http://[::1]/p")
    assert(norm("https://[2001:DB8::1]:8080/x") == "https://[2001:db8::1]:8080/x")
    assert(host("http://[::1]") == "[::1]")
    assert(host("http://user@[2001:db8::1]:443/p") == "[2001:db8::1]")
  }

  test("robots.txt: groups, comments, longest-match, totality") {
    import graft.ops.RobotsKernels._
    val txt = "# banner comment\n" +
      "User-agent: evilbot\nDisallow: /\n\n" +
      "User-agent: GoodBot\nUser-agent: other\n" + // multi-agent group
      "Disallow: /private # inline comment\n" +
      "Allow: /private/ok\n" +
      "Disallow:\n" + // empty value = no rule
      "Crawl-delay: 10\n" + // unknown key skipped
      "User-agent: *\nDisallow: /tmp"
    // exact agent match (case-insensitive) beats the * group
    val good = parseRules(txt, "goodbot")
    assert(good.toSet === Set((false, "/private"), (true, "/private/ok")))
    assert(parseRules(txt, "other") === good)
    // unknown agent falls back to the * group
    assert(parseRules(txt, "somebot") === Seq((false, "/tmp")))
    // longest match wins; no match → allowed
    assert(!isAllowed("https://h.io/private/x", good))
    assert(isAllowed("https://h.io/private/ok/x", good))
    assert(isAllowed("https://h.io/public", good))
    // path+query derivation: portless, query-only, fragment dropped
    assert(!isAllowed("http://u@H.io:80/private?q=1#f", good))
    assert(isAllowed("https://h.io", Seq((false, "/x"))))
    assert(!isAllowed("https://h.io", Seq((false, "/"))))
    // rule ties at equal length go to allow
    assert(isAllowed("https://h.io/p", Seq((false, "/p"), (true, "/p"))))
    // total on garbage
    assert(parseRules("::::\nnot a rule\nDisallow: /orphan", "x") === Nil)
    assert(isAllowed("garbage-not-a-url", Seq((false, "/"))))
  }

  test("totality fuzz: 8k hostile payloads through every web kernel") {
    val rnd = new scala.util.Random(0x7E57)
    val alphabet = "<>&;#/\\\"'=?:@. abAB\u00e9\ud83d\ude00\r\n\t "
    for (i <- 0 until 8000) {
      val n = if (i < 100) i % 20 else rnd.nextInt(120)
      val s = new String(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))))
      val u = UTF8String.fromString(s)
      HtmlKernels.extractText(u)
      assert(HtmlKernels.linkTextPpm(u) >= 0L)
      HtmlKernels.mainText(u, 500000)
      HtmlKernels.metaOf(u)
      HtmlKernels.hrefTexts(u)
      UrlKernels.normalizeUrl(u)
      UrlKernels.urlHost(u)
      graft.ops.RobotsKernels.parseRules(s, "*")
      graft.ops.RobotsKernels.isAllowed(s, Seq((false, "/"), (true, "/a")))
      graft.ops.RobotsKernels.parseAll(s, "mybot")
      graft.ops.SitemapKernels.parse(s)
      graft.ops.TextKernels.dropRepeatedSpans(u, 3)
      UrlKernels.resolveUrl(u, u)
      UrlKernels.resolveUrl(UTF8String.fromString("https://b.example/x/y"), u)
      graft.ops.TextKernels.gopherStats(u)
    }
  }

  test("SQL surface: the four functions registered and codegen-evaluated") {
    val spark = SparkTestSession.spark
    graft.ops.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT html_extract('<p>a &amp; b</p><a href="/">c</a>') AS t,
        |  html_link_ppm('<p>ab</p><a href="/">cd</a>') AS p,
        |  url_normalize('HTTP://H.IO:80/x?utm_source=1&a=2#f') AS u,
        |  url_host('https://A.B.C/') AS h""".stripMargin).head()
    assert(row.getString(0) == "a & b\nc")
    // extract is "ab\ncd" (5 cps incl. the block newline), anchor "cd"
    assert(row.getLong(1) == 400000L)
    assert(row.getString(2) == "http://h.io/x?a=2")
    assert(row.getString(3) == "a.b.c")
    // null in → null out (kernel expressions are null-safe)
    val n = spark.sql("SELECT html_extract(cast(NULL AS string)) AS t").head()
    assert(n.isNullAt(0))
  }

  test("main text drops high-link-density blocks whole") {
    def main(h: String, ppmMax: Int = 500000): String =
      HtmlKernels.mainText(UTF8String.fromString(h), ppmMax).toString
    val page = "<div><a href='/'>nav one</a> <a href='/'>nav two</a></div>" +
      "<h1>Title</h1><p>real article text here</p>" +
      "<div>see <a href='/'>related</a> and <a href='/'>more</a></div>" +
      "<div><a href='/x'>x</a>|<a href='/y'>y</a>|<a href='/z'>z</a></div>"
    // nav: 14/15 anchor → drop; article: 0 → keep; "see related and
    // more": 11/20 (55%) → drop at 50%, keep at 60%; "x|y|z": 3/5
    // (60% exactly) → drop at 50%, boundary-keep at 60%
    assert(main(page) == "Title\nreal article text here")
    assert(main(page, 600000) ==
      "Title\nreal article text here\nsee related and more\nx|y|z")
    assert(main(page, 1000000).contains("nav one"))
    assert(main("<p>no links at all</p>") == "no links at all")
    assert(main("<a>only links</a>") == "")
    assert(main("") == "")
  }

  test("html_meta: title/lang/canonical/description across quoting styles") {
    def meta(h: String): (String, String, String, String) = {
      val r = HtmlKernels.metaOf(UTF8String.fromString(h))
      def f(i: Int): String = {
        val v = r.get(i, org.apache.spark.sql.types.StringType)
        if (v == null) null else v.toString
      }
      (f(0), f(1), f(2), f(3))
    }
    val full = "<!DOCTYPE html><html LANG='en-US'><head>" +
      "<title>  A &amp; B\n page </title>" +
      "<link href=\"https://c.example/1\" rel=\"CANONICAL\"/>" +
      "<meta content='the desc' name=description></head><body>x</body></html>"
    assert(meta(full) == ("A & B page", "en-US", "https://c.example/1", "the desc"))
    // absent signals → null; non-canonical links and other metas ignored
    assert(meta("<html><head><link rel=stylesheet href=/x.css>" +
      "<meta name=viewport content=w></head>t</html>") ==
      (null, null, null, null))
    // first occurrence wins
    assert(meta("<title>one</title><title>two</title>")._1 == "one")
    // unterminated/malformed stays total
    assert(meta("<html lang=")._2 == null)
    assert(meta("<title>never closed")._1 == "never closed")
    assert(meta("")._1 == null)
    // raw-text title may contain tag-like text
    assert(meta("<title>a <b> c</title>")._1 == "a <b> c")
  }

  test("hrefs: document order, duplicates kept, raw-text bodies skipped") {
    def links(h: String): Seq[String] =
      HtmlKernels.hrefs(UTF8String.fromString(h)).array.toSeq
        .map(_.asInstanceOf[UTF8String].toString)
    assert(links("<a href='/a'>1</a><p><a href=\"/b\">2</a></p>" +
      "<a href='/a'>again</a>") == Seq("/a", "/b", "/a"))
    // empty/missing hrefs skip; close tags emit nothing
    assert(links("<a>no href</a><a href=''>empty</a></a>") == Nil)
    // tag-like text inside script/style/noscript is CONTENT, not markup
    // — document.write('<a href=…>') must not fabricate an edge
    assert(links("<script>document.write('<a href=\"/evil\">x</a>');" +
      "</script><a href='/real'>r</a>") == Seq("/real"))
    assert(links("<style>/* <a href='/css'> */</style>" +
      "<noscript><a href='/ns'>n</a></noscript>") == Nil)
    // unterminated script consumes to end (total)
    assert(links("<a href='/k'>k</a><script>var a='<a href=/x>'") ==
      Seq("/k"))
    assert(links("") == Nil)
  }

  test("href_texts: anchor text normalization, nesting, totality") {
    def pairs(h: String): Seq[(String, String)] =
      HtmlKernels.hrefTexts(UTF8String.fromString(h)).array.toSeq
        .map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getUTF8String(0).toString, row.getUTF8String(1).toString)
        }
    assert(pairs("<a href='/x'>click <b>here</b> now</a>") ==
      Seq(("/x", "click here now")))
    // entities decode; whitespace collapses and trims
    assert(pairs("<a href='/y'>  a &amp;\n b </a>") ==
      Seq(("/y", "a & b")))
    // block boundaries inside the anchor become a single gap
    assert(pairs("<a href='/z'>one<p>two</p></a>") ==
      Seq(("/z", "one two")))
    // nested anchors: inner closes (and emits) first, each its own span
    assert(pairs("<a href='/out'>o1 <a href='/in'>inner</a> o2</a>") ==
      Seq(("/in", "inner"), ("/out", "o1 inner o2")))
    // hrefless anchors emit nothing; script decoys stay content
    assert(pairs("<a>nothing</a>") == Nil)
    assert(pairs("<script>var a='<a href=/evil>x</a>'</script>" +
      "<a href='/r'>real</a>") == Seq(("/r", "real")))
    // unterminated anchor at EOF keeps what it gathered (total)
    assert(pairs("<a href='/u'>gathered text") ==
      Seq(("/u", "gathered text")))
    assert(pairs("") == Nil)
  }

  test("html_meta: script/style template strings cannot set metadata") {
    def meta(h: String): (String, String, String, String) = {
      val r = HtmlKernels.metaOf(UTF8String.fromString(h))
      def f(i: Int): String = {
        val v = r.get(i, org.apache.spark.sql.types.StringType)
        if (v == null) null else v.toString
      }
      (f(0), f(1), f(2), f(3))
    }
    // a '<link rel=canonical>' template inside a JS literal is content
    val page = "<script>var t = '<link rel=canonical " +
      "href=\"https://evil.example/\">';</script>" +
      "<link rel=canonical href='https://real.example/p'>"
    assert(meta(page)._3 == "https://real.example/p")
    // style/noscript bodies likewise; a real meta after still wins
    assert(meta("<style>/* <meta name=description content=spoof> */" +
      "</style><meta name=description content=genuine>")._4 == "genuine")
    // a second <title> after the first is raw text — tags inside its
    // body must not leak into the scan
    assert(meta("<title>one</title><title><link rel=canonical " +
      "href=/x></title>") == ("one", null, null, null))
  }

  test("robots crawl-delay and sitemaps: group scoping, fractional " +
      "seconds, document order") {
    import graft.ops.RobotsKernels
    val txt = "User-agent: evilbot\nCrawl-delay: 99\nDisallow: /\n\n" +
      "Sitemap: https://s.example/a.xml\n" +
      "User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n" +
      "Sitemap: https://s.example/b.xml\n"
    val f = RobotsKernels.parseAll(txt, "mybot")
    // the * group's delay applies; the evilbot decoy never leaks
    assert(f.crawlDelayMs === Some(2500L))
    assert(RobotsKernels.parseAll(txt, "evilbot").crawlDelayMs ===
      Some(99000L))
    // sitemaps are file-global, document order
    assert(f.sitemaps === Seq("https://s.example/a.xml",
      "https://s.example/b.xml"))
    // rules unchanged by the new lines
    assert(f.rules === Seq((false, "/x")))
    // explicit 0 is stated, absence is None
    assert(RobotsKernels.parseAll(
      "User-agent: *\nCrawl-delay: 0\nDisallow: /", "*").crawlDelayMs ===
      Some(0L))
    assert(RobotsKernels.parseAll(
      "User-agent: *\nDisallow: /", "*").crawlDelayMs === None)
    // non-numeric / negative / absurd delays skip, never throw
    for (bad <- Seq("fast", "-1", "1e99999", "99999999999999999999"))
      assert(RobotsKernels.parseAll(
        s"User-agent: *\nCrawl-delay: $bad\n", "*").crawlDelayMs === None,
        bad)
    // first parseable delay among chosen groups wins
    assert(RobotsKernels.parseAll(
      "User-agent: *\nCrawl-delay: 1\nUser-agent: *\nCrawl-delay: 7",
      "*").crawlDelayMs === Some(1000L))
    assert(RobotsKernels.parseAll("", "*") ===
      RobotsKernels.RobotsFile(Nil, None, Nil))
  }

  test("charset_decode honors the header charset, replaces bad bytes") {
    def dec(ct: String, bytes: Array[Byte]): String =
      HtmlKernels.charsetDecode(
        if (ct == null) null else UTF8String.fromString(ct), bytes).toString
    val latin1 = "café".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(latin1.length == 4) // é is ONE byte in latin-1
    assert(dec("text/html; charset=ISO-8859-1", latin1) == "café")
    assert(dec("text/html; CHARSET=\"iso-8859-1\"", latin1) == "café")
    // the same bytes read as UTF-8 would mangle: 0xE9 is malformed
    assert(dec("text/html; charset=utf-8", latin1) == "caf�")
    assert(dec("text/html", latin1) == "caf�") // no charset → utf-8
    assert(dec(null, "ok".getBytes) == "ok")
    // unknown charset name falls back to utf-8, never throws
    assert(dec("text/html; charset=klingon-8", "ab".getBytes) == "ab")
    val utf8 = "café 😀".getBytes("UTF-8")
    assert(dec("application/json; charset=UTF-8", utf8) == "café 😀")
  }

  test("html_extract_stats (one walk) equals the two scalar kernels") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0xD0C5)
    val alphabet = "<>&;#ab /=\"'!-pxyz"
    val pages = (0 until 500).map { i =>
      (i.toLong,
        "<p>" + new String(Array.fill(rnd.nextInt(80))(
          alphabet(rnd.nextInt(alphabet.length)))) +
          "</p><a href='/'>" + ("t" * (i % 5)) + "</a>")
    }.toDF("id", "html")
    val rows = pages.select(col("id"),
        graft.ops.HtmlExprs.htmlExtract(col("html")).as("t1"),
        graft.ops.HtmlExprs.htmlLinkPpm(col("html")).as("p1"),
        graft.ops.HtmlExprs.htmlExtractStats(col("html")).as("s"))
      .collect()
    rows.foreach { r =>
      val s = r.getStruct(r.fieldIndex("s"))
      assert(s.getString(0) == r.getString(1), s"id=${r.getLong(0)}")
      assert(s.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}")
    }
  }

  test("web-gate formulas agree with the oracle's unicode semantics") {
    // The html_extract/web_pipeline oracles (webCte) restate the
    // expected extract with DuckDB string ops; the contracts they lean
    // on — ASCII-only [ \t\n\r\f] collapse (VT, NBSP, U+2028 and
    // friends do NOT collapse), length() counting CODE POINTS, and the
    // entity escape round-trip being lossless for ANY corpus text —
    // must hold on text the sf tables don't contain. This leg pins the
    // kernel against a JVM codepoint-exact reference of the DuckDB
    // formula, over parquet-round-tripped hostile strings (the same
    // discipline as HostileDataSpec's quality/token leg).
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      (1L, "caf\u00e9"), (2L, "cafe\u0301"), // NFC vs NFD
      (3L, "\ud835\udd4f\ud83d\ude00 ab"), // astral chars
      (4L, "a\u00a0b\u2028c\u3000d"), // unicode spaces: NOT collapsed
      (5L, "a\u000bb"), // ASCII VT: NOT in the WHATWG collapse set
      (6L, " \t lead & <mid> \r\n trail \f "), // escape + collapse mix
      (7L, ""), (8L, "&&amp;&lt;&#65;"), // bare & next to entities
      (9L, "a\u200bb\ufeffc")) // zero-width, BOM: kept verbatim
    val dir = java.nio.file.Files.createTempDirectory("graft_hostile_web")
    dir.toFile.deleteOnExit()
    val pq = dir.resolve("docs").toString
    cases.toDF("doc_id", "text").write.parquet(pq)
    val back = spark.read.parquet(pq)

    import graft.queries.GateFixtures.Web
    // the DuckDB formula, codepoint-exact on the JVM
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
    def expectExtract(t: String): String = {
      val coll = collapse(t)
      if (coll.isEmpty) "src\nlink text" else "src\n" + coll + "\nlink text"
    }
    def cps(s: String): Long = s.codePointCount(0, s.length).toLong

    val got = back
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, Web.html(t, "src")) })
      .toDF("doc_id", "html")
      .select(col("doc_id"),
        graft.ops.HtmlExprs.htmlExtract(col("html")).as("txt"),
        graft.ops.HtmlExprs.htmlLinkPpm(col("html")).as("ppm"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    // reference computed over the PARQUET-ROUND-TRIPPED strings (what
    // both engines actually read)
    val roundTripped = back.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, _) =>
      val t = roundTripped(id)
      val want = expectExtract(t)
      assert(got(id)._1 == want, s"doc $id extract")
      assert(got(id)._2 == 9L * 1000000L / cps(want), s"doc $id ppm")
    }
  }
}
