package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.ImageHash
import graft.similarity.{Ann, Pq}
import graft.text.TextOps

/** The data every gate family runs over, in one place: the synthetic
  * populations (WARC shards, web pages, URL spellings, image / GIF /
  * audio / video clips), the 23 build-once [[IndexCache]] indexes and
  * persisted states, the [[Memo]]ized models and fixtures, and the
  * SQL restatements of the shared synthesis formulas. Gate families
  * import it; nothing here is a gate. */
object GateFixtures {

  /** Memoized row count per (data dir, table) — the corpus-size
    * constant gates feed into integer-exact scoring and fraction-scaled
    * overscans. One scan per JVM per (dir, table); in production this
    * is a manifest value. */
  private[queries] val tableCountFor = {
    val cache = new Memo[(String, String), Long]
    (s: SparkSession, dir: String, table: String) =>
      cache((dir, table))(Tables(s, dir, table).count())
  }

  /** Memoized PQ codebook per data dir: training is the one-time
    * amortized part of the PQ feature (the analogue of the persistent
    * indexes' build step), so repeated `ann_pq` invocations in one
    * session — and the bench's timed runs after its warmup — pay only
    * the encode/ADC query. Deterministic (decimal-exact Lloyd), so the
    * memoized model is identical to a fresh train. */
  private[queries] val pqModelFor = {
    val cache = new Memo[String, Pq.Model]
    (s: SparkSession, dir: String) => cache(dir)(Pq.train(
      Tables(s, dir, "embeddings")
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      col("cid"), col("cvec"), dim = 64, m = 8, k = 16, iters = 2))
  }

  private[queries] val mhIndexFor = new IndexCache("graft_gate_mhidx", (s, dir, path) =>
    Dedup.writeMinhashIndex(
      Tables(s, dir, "documents").where(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), path, buckets = 8))

  // the SAME standing corpus, indexed in two installments: build on the
  // even half, append the odd half — queries must be indistinguishable
  // from the one-shot build (same oracle as dedup_index_query)
  private[queries] val mhAppendIndexFor = new IndexCache("graft_gate_mhapp",
    (s, dir, path) => {
      val standing = Tables(s, dir, "documents").where(col("doc_id") % 5 =!= 0)
      Dedup.writeMinhashIndex(standing.where(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), path, buckets = 8)
      Dedup.appendToMinhashIndex(standing.where(col("doc_id") % 2 =!= 0),
        col("doc_id"), col("text"), path)
    })

  // the grown two-installment index, COMPACTED to a fresh path: one
  // index-sized pass over the stored shingles table (no corpus scan) —
  // queries must be indistinguishable from the grown index AND from the
  // from-scratch oracle (compacted ≡ grown ≡ rebuilt)
  private[queries] val mhCompactIndexFor = new IndexCache("graft_gate_mhcmp",
    (s, dir, path) =>
      Dedup.compactMinhashIndex(s, mhAppendIndexFor(s, dir), path))

  private[queries] val ivfIndexFor = new IndexCache("graft_gate_ivfidx", (s, dir, path) =>
    Ann.writeIvfIndex(
      Tables(s, dir, "embeddings")
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      path, nClusters = 16, iters = 2, buckets = 8))

  // IVF index grown in two installments (build even cids, append odd) —
  // probing every cluster of the grown index must reproduce brute force,
  // whatever the centroids, so it shares the ann brute-force oracle
  private[queries] val ivfAppendIndexFor = new IndexCache("graft_gate_ivfapp",
    (s, dir, path) => {
      val c = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Ann.writeIvfIndex(c.where(col("cid") % 2 === 0), path,
        nClusters = 16, iters = 2, buckets = 8)
      Ann.appendToIvfIndex(c.where(col("cid") % 2 =!= 0), path)
    })

  private[queries] val ivfpqIndexFor = new IndexCache("graft_gate_ivfpq", (s, dir, path) =>
    Pq.writeIvfPqIndex(
      Tables(s, dir, "embeddings")
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      path, dim = 64, m = 8, nCentroids = 16, nClusters = 16, buckets = 8))

  // ── Persisted-state caches for the state-lifecycle gates ───────────
  // Same build-once-per-JVM discipline as the index caches above: the
  // two-installment write+fold is the AMORTIZED part of these features
  // (it runs at ingest time, not per query), so repeated invocations
  // re-use the built state and time the READ path — the part that runs
  // at mix/selection time against 100 TB. Bench lists these gates in
  // its prebuilt set, paying (and reporting) the build separately as
  // build_sec; the FIRST invocation per JVM still exercises the full
  // write → fold → read lifecycle, which is what Verify records.

  private[queries] def dollarLineitem(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_extendedprice"), 0).as("usd"))

  private[queries] def budgetScored(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        SelectionGates.qPpm(col("text")),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))

  private[queries] val qstateFor = new IndexCache("graft_gate_pstate",
    (s, dir, path) => {
      val li = dollarLineitem(s, dir)
      graft.meta.ProfileState.writeProfileState(
        li.where(col("l_orderkey") % 3 =!= 0), col("usd"), path)
      graft.meta.ProfileState.appendProfileState(
        li.where(col("l_orderkey") % 3 === 0), col("usd"), path)
    })

  private[queries] val qstateGroupFor = new IndexCache("graft_gate_pstate_g",
    (s, dir, path) => {
      val li = dollarLineitem(s, dir)
      graft.meta.ProfileState.writeProfileStatePerGroup(
        li.where(col("l_orderkey") % 3 =!= 0), col("l_returnflag"),
        col("usd"), path)
      graft.meta.ProfileState.appendProfileStatePerGroup(
        li.where(col("l_orderkey") % 3 === 0), col("l_returnflag"),
        col("usd"), path)
    })

  private[queries] val wstateFor = new IndexCache("graft_gate_pstate_w",
    (s, dir, path) => {
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"),
          SelectionGates.qPpm(col("text")),
          col("n_chars"))
      graft.meta.ProfileState.writeProfileState(
        scored.where(col("doc_id") % 3 =!= 0), col("q_ppm"), path,
        weight = col("n_chars"))
      graft.meta.ProfileState.appendProfileState(
        scored.where(col("doc_id") % 3 === 0), col("q_ppm"), path,
        weight = col("n_chars"))
    })

  // drift compares two snapshots: both live under the one cached base
  private[queries] val driftStatesFor = new IndexCache("graft_gate_pdrift",
    (s, dir, path) => {
      val li = dollarLineitem(s, dir)
      graft.meta.ProfileState.writeProfileStatePerGroup(
        li.where(col("l_orderkey") % 3 =!= 0), col("l_returnflag"),
        col("usd"), path + "/v1")
      graft.meta.ProfileState.writeProfileStatePerGroup(
        li, col("l_returnflag"), col("usd"), path + "/v2")
    })

  private[queries] val bstateFor = new IndexCache("graft_gate_bstate",
    (s, dir, path) => {
      val scored = budgetScored(s, dir)
      graft.text.BudgetSelect.writeBudgetState(
        scored.where(col("doc_id") % 3 =!= 0),
        col("doc_id"), col("q_ppm"), col("n_tokens"), path)
      graft.text.BudgetSelect.appendBudgetState(
        scored.where(col("doc_id") % 3 === 0),
        col("doc_id"), col("q_ppm"), col("n_tokens"), path)
    })

  private[queries] val bstateGroupFor = new IndexCache("graft_gate_bstate_g",
    (s, dir, path) => {
      val scored = budgetScored(s, dir)
      graft.text.BudgetSelect.writeBudgetStatePerGroup(
        scored.where(col("doc_id") % 3 =!= 0), col("source"),
        col("doc_id"), col("q_ppm"), col("n_tokens"), path)
      graft.text.BudgetSelect.appendBudgetStatePerGroup(
        scored.where(col("doc_id") % 3 === 0), col("source"),
        col("doc_id"), col("q_ppm"), col("n_tokens"), path)
    })

  // one fold serves BOTH temperature-mixture incremental gates (capped
  // and epochs) — the state is the same per-source count fold
  private[queries] val mixStateFor = new IndexCache("graft_gate_mixstate",
    (s, dir, path) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      graft.meta.ProfileState.writeProfileStatePerGroup(
        d.where(col("doc_id") % 3 =!= 0), col("source"), lit(0L), path)
      graft.meta.ProfileState.appendProfileStatePerGroup(
        d.where(col("doc_id") % 3 === 0), col("source"), lit(0L), path)
    })

  /** Shared web-crawl synthesis formulas (Scala side of the
    * warc/html/url gates; the oracle CTE [[webCte]] restates the same
    * arithmetic in SQL — one place per engine, so the three gates
    * cannot drift from each other). */
  private[graft] object Web {
    def esc(t: String): String =
      t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def html(text: String, source: String): String =
      "<html><head><title>t</title><script>var x = 1 < 2;</script>" +
        "<style>p { }</style></head><body><h1>" + source + "</h1><p>" +
        esc(if (text == null) "" else text) + "</p>" +
        "<a href=\"https://link.example/\">link text</a>" +
        "<!-- boilerplate --></body></html>"

    def url(id: Long, source: String): String = (id % 3) match {
      case 0 => "HTTP://User@WWW.Example-" + (id % 10) + ".COM.:80/" +
        source + "/" + id + "?utm_source=w&b=" + (id % 7) + "&a=1#frag"
      case 1 => "https://API.Site" + (id % 5) + ".ORG:443?x=" + (id % 4) +
        "&x=0"
      case _ => "ftp://Files." + source + ".Example.com/pub/" + id +
        "?c=2&A=1&"
    }

    def date(id: Long): String =
      "2026-01-0" + (1 + id % 9) + "T00:00:0" + (id % 10) + "Z"

    /** The canonical host of [[url]] — the same arithmetic webCte's
      * `host` column states in SQL. */
    def host(id: Long, source: String): String = (id % 3) match {
      case 0 => "www.example-" + (id % 10) + ".com"
      case 1 => "api.site" + (id % 5) + ".org"
      case _ => "files." + source.toLowerCase(java.util.Locale.ROOT) +
        ".example.com"
    }

    /** The link-extraction gate's page: three real links (duplicates
      * kept — edge multiplicity is signal), a valueless-name anchor,
      * a SCRIPT DECOY (`document.write('<a href=…>')` — raw-text
      * content that must never become an edge), and a rotating fourth
      * link so counts vary. */
    def linksHtml(id: Long, source: String): String =
      "<html><body><a href=\"https://a.example/" + id + "\">one</a>" +
        "<script>document.write('<a href=\"https://evil.example/" + id +
        "\">x</a>');</script>" +
        "<p><a href='/rel/" + source + "'>two</a></p>" +
        "<a name=anchor>no href</a>" +
        "<a href=\"https://a.example/" + id + "\">dup</a>" +
        (if (id % 3 == 0)
          "<a href='https://b.example/?q=" + id + "'>extra</a>"
        else "") +
        "</body></html>"

    /** The main-text gate's page: real content wrapped in a nav bar
      * (14/15 anchor cps) and a link-farm footer (13/19) — both above
      * the 50% link-density cut, so main-content extraction must drop
      * them whole while keeping the h1 and the article text. */
    def htmlWithNav(text: String, source: String): String =
      "<html><body><div><a href=\"/a\">nav one</a> " +
        "<a href=\"/b\">nav two</a></div><h1>" + source + "</h1><p>" +
        esc(if (text == null) "" else text) + "</p>" +
        "<div><a href=\"/x\">more</a> | <a href=\"/y\">links</a> | " +
        "<a href=\"/z\">here</a></div></body></html>"
  }

  /** Memoized-per-dataset synthetic WARC shards: three gates consume
    * the same fixture, and Bench reps must time the PARSE chain (the
    * product), not re-synthesizing the crawl (the fixture) — the same
    * policy as the memoized index builds and BPE merges. */
  private[queries] val warcCache = new Memo[String, DataFrame]

  private[queries] def syntheticWarc(s: SparkSession, dir: String): DataFrame =
    warcCache(dir)(syntheticWarcBuild(s, dir).localCheckpoint(true))

  /** Synthetic WARC crawl shards for the warc/web gates: one file per
    * doc (warcinfo + HTTP response with the [[Web.html]] page +
    * metadata), even doc_id → plain, odd → per-record gzip members. */
  private[queries] def syntheticWarcBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.ingest.Warc
    import graft.ingest.Warc.WarcSpecRec
    // spread the under-split scan BEFORE the shard synthesis: the
    // fixture checkpoint inherits this partitioning, so every warc/web
    // gate's byte-level record walk runs wide instead of as the
    // single task the one-row-group documents file would give it
    // (measured: warc_cdx_fetch spent 2×0.9 s in one task). Memoized —
    // the repartition is paid once per JVM+dir.
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source")),
        col("doc_id"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (id, text0, lang, source) =>
        val text = if (text0 == null) "" else text0
        val uri = Web.url(id, source)
        val date = Web.date(id)
        val http = "HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n\r\n" +
          Web.html(text, source)
        val recs = Seq(
          WarcSpecRec("warcinfo", s"<urn:uuid:warcinfo-$id>", None, date,
            "application/warc-fields",
            "software: graft/0.1\r\nformat: WARC file version 1.1"
              .getBytes(UTF_8)),
          WarcSpecRec("response", s"<urn:uuid:resp-$id>", Some(uri), date,
            "application/http; msgtype=response", http.getBytes(UTF_8)),
          WarcSpecRec("metadata", s"<urn:uuid:meta-$id>", Some(uri), date,
            "application/warc-fields",
            ("lang: " + lang + "\r\nsourceName: " + source).getBytes(UTF_8)))
        (id, if (id % 2 == 0) Warc.buildWarc(recs) else Warc.buildWarcGz(recs))
      }).toDF("doc_id", "payload")
  }

  /** Synthetic redirect shards for the redirect gates: per doc a 301
    * (RELATIVE Location — the urlResolve leg), a 302 (absolute), and
    * the terminal 200; every 10th doc adds a 2-node redirect LOOP.
    * Even ids plain, odd per-record gzip (compression-blind like the
    * main WARC fixture). */
  private[queries] def syntheticRedirectWarc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.ingest.Warc
    import graft.ingest.Warc.WarcSpecRec
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val date = Web.date(id)
        def http(status: Int, reason: String, loc: Option[String],
                 body: String): Array[Byte] =
          (s"HTTP/1.1 $status $reason\r\n" +
            loc.map(l => s"Location: $l\r\n").getOrElse("") +
            "Content-Type: text/html; charset=utf-8\r\n\r\n" + body)
            .getBytes(UTF_8)
        def resp(tag: String, uri: String, payload: Array[Byte]) =
          WarcSpecRec("response", s"<urn:uuid:$tag-$id>", Some(uri), date,
            "application/http; msgtype=response", payload)
        val recs = Seq(
          resp("r301", "https://r.example/a/" + id,
            http(301, "Moved Permanently", Some("/b/" + id), "moved")),
          resp("r302", "https://r.example/b/" + id,
            http(302, "Found",
              Some("https://final.example/p/" + (id % 50)), "found")),
          resp("r200", "https://final.example/p/" + (id % 50),
            http(200, "OK", None, "the page"))) ++
          (if (id % 10 == 0) Seq(
            resp("loopx", "https://loop.example/x/" + id,
              http(301, "Moved Permanently",
                Some("https://loop.example/y/" + id), "")),
            resp("loopy", "https://loop.example/y/" + id,
              http(302, "Found",
                Some("https://loop.example/x/" + id), "")))
          else Seq.empty)
        (id, if (id % 2 == 0) Warc.buildWarc(recs) else Warc.buildWarcGz(recs))
      }).toDF("doc_id", "payload")
  }

  /** Memoized resolved redirect chains — shared by the resolve gate
    * and the dedup composition (one parse + one doubling run per
    * JVM+dir). */
  private[queries] val redirectChainsCache = new Memo[String, DataFrame]

  private[queries] def resolvedRedirects(s: SparkSession, dir: String): DataFrame =
    redirectChainsCache(dir) {
      val recs = graft.ingest.Warc.recordTable(s,
        syntheticRedirectWarc(s, dir), col("doc_id"), col("payload"))
      val edges = recs
        .where(col("http_status").between(300, 399) &&
          col("location").isNotNull)
        .select(col("target_uri").as("u"),
          graft.ops.HtmlExprs.urlResolve(
            col("target_uri"), col("location")).as("v"))
      graft.ingest.Redirects.resolveChains(edges, col("u"), col("v"),
          maxHops = 8)
        .localCheckpoint(true)
    }

  /** Synthetic revisit shards for the `warc_revisit` gate: per doc a
    * `response` record (text/plain body `p<id>|<text>`), and for even
    * doc_id a `revisit` record carrying the crawler-side dedup headers
    * (WARC-Refers-To naming the original, WARC-Payload-Digest, and the
    * netpreserve identical-payload-digest profile). Every 4th doc's
    * revisit carries a deliberately STALE digest so the gate's
    * digest-match flag discriminates (a comparison that always says
    * "match" cannot pass). doc_id % 3 == 0 files are per-record gzip
    * members, the rest plain — compression-blind like the main WARC
    * fixture. */
  private[queries] def syntheticRevisitWarc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.ingest.Warc
    import graft.ingest.Warc.WarcSpecRec
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(t: String): String = {
          md.reset()
          md.digest(t.getBytes(UTF_8)).map("%02x".format(_)).mkString
        }
        it.map { case (id, text0) =>
          val content = "p" + id + "|" + (if (text0 == null) "" else text0)
          val uri = "https://h" + (id % 7) + ".example/p/" + id
          val date = Web.date(id)
          val orig = WarcSpecRec("response", s"<urn:uuid:orig-$id>",
            Some(uri), date, "application/http; msgtype=response",
            ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8" +
              "\r\n\r\n" + content).getBytes(UTF_8),
            payloadDigest = Some("md5:" + hex(content)))
          val recs =
            if (id % 2 != 0) Seq(orig)
            else Seq(orig, WarcSpecRec("revisit", s"<urn:uuid:rev-$id>",
              Some(uri), date, "message/http", Array.empty[Byte],
              refersTo = Some(s"<urn:uuid:orig-$id>"),
              payloadDigest = Some("md5:" + hex(
                if (id % 4 == 0) content else content + "|stale")),
              profile = Some("http://netpreserve.org/warc/1.1/revisit/" +
                "identical-payload-digest")))
          (id, if (id % 3 == 0) Warc.buildWarcGz(recs) else Warc.buildWarc(recs))
        }
      }.toDF("doc_id", "payload")
  }

  /** Two differently-messy spellings per doc of the same logical page
    * (userinfo + default port + tracking params + fragment vs a bare
    * trailing-'?' form), both normalizing to
    * `https://site{id%25}.example/p/{id%125}` — the shared fixture of
    * the url_dedup gates. */
  private[queries] def urlSpellings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val k = id % 25
        val j = id % 125
        Seq(
          (id, "HTTPS://User@Site" + k + ".EXAMPLE.:443/p/" + j +
            "?utm_source=x&ref=y#frag"),
          (id, "https://site" + k + ".example/p/" + j + "?"))
      }).toDF("doc_id", "url")
  }

  /** Rolling-crawl URL-seen state for the incremental gate: three
    * batches folded in order (doc_id % 3 → batch 1/2/3), then batch 2
    * REPLAYED — the watermark guard must make the replay a no-op, so
    * the final state equals the clean three-fold state the oracle
    * recomputes from scratch. */
  private[queries] val urlStateFor = new IndexCache("graft_gate_urlstate",
    (s, dir, path) => {
      val u = urlSpellings(s, dir)
      for (b <- 1L to 3L)
        graft.dedup.UrlSeen.foldBatch(
          u.where(col("doc_id") % 3 === (b - 1)),
          col("doc_id"), col("url"), path, b)
      graft.dedup.UrlSeen.foldBatch( // replay: must not touch the state
        u.where(col("doc_id") % 3 === 1),
        col("doc_id"), col("url"), path, 2L)
      ()
    })

  /** Clean-then-ship export: span-removed corpus → WET shards, once
    * per JVM+dir. */
  private[queries] val wetCleanFor = new IndexCache("graft_gate_wetclean",
    (s, dir, path) => {
      val framed = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" boilerplate navigation footer menu copyright of "),
          col("source")).as("t"))
      val cleaned = Dedup.removeDuplicatedSpans(framed, col("doc_id"),
        col("t"), n = 5)
      graft.ingest.Warc.wetExport(s, cleaned, col("doc_id"),
        concat(lit("https://c.example/"), col("doc_id")),
        lit("2026-02-02T00:00:00Z"), col("text_clean"), path,
        maxRecordsPerFile = 100, gzip = true)
    })

  /** Frontier-pipeline standing state: batch 1 = the url_dedup
    * canonical set (what the crawl has already fetched). The frontier
    * gate folds its candidates as batch 2; re-invocations within one
    * JVM replay batch 2 idempotently — the fold contract makes the
    * memoized state safe to re-judge. */
  private[queries] val frontierStateFor = new IndexCache("graft_gate_frontier",
    (s, dir, path) => {
      graft.dedup.UrlSeen.foldBatch(urlSpellings(s, dir),
        col("doc_id"), col("url"), path, 1L)
      ()
    })

  /** Separate standing state for the redirect-aware frontier gate: it
    * folds its OWN batch 2, and two gates sharing one path would each
    * see the other's committed batch-2 delta as a replay of different
    * content. */
  private[queries] val frontierRedirectStateFor = new IndexCache(
    "graft_gate_frontier_redirect",
    (s, dir, path) => {
      graft.dedup.UrlSeen.foldBatch(urlSpellings(s, dir),
        col("doc_id"), col("url"), path, 1L)
      ()
    })

  /** Bounded PNG population for the image-dedup gates: even-id docs
    * (deterministic PNG payloads) with doc_id < 400, plus two plant
    * families — byte-identical clones of even ids < 8 under +1000000
    * (the oracled recall population) and a canonical/perturbed
    * re-render pair per even id < 8 under +2000000/+3000000. The
    * perturbation edits a pixel column the 9×8 dHash sampling grid
    * never reads (floor(16x/9) = {0,1,3,5,7,8,10,12,14} skips column
    * 2), so the pair lands at hamming 0 with DIFFERENT bytes —
    * perceptual dedup, not byte dedup. JPEGs are excluded: the
    * uniform-gray fixtures all dHash to 0 (no gradients anywhere) — a
    * true but degenerate corpus-wide equivalence class whose pair set
    * is quadratic in the fixture, the image analogue of stopword
    * shingles. */
  /** 20 sixteen-bit words with pairwise Hamming distance ≥ 6, greedily
    * chosen — repeated 4× into 64-bit signatures they give pairwise
    * distance ≥ 24, so one-bit variants (distance ≥ 22 cross-class)
    * can NEVER cross classes at radius 7. Indices 0-9 are the batch-1
    * "base" classes, 10-19 the batch-2 "new" classes. */
  private[queries] lazy val sigClassWords: IndexedSeq[Long] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    var v = 0
    // 30 classes: 0-9 base, 10-19 the batch-2 never-seen family, 20-29
    // the animation gate's novel-frame family. Greedy in ascending v,
    // so extending the count leaves the earlier indices IDENTICAL.
    while (kept.length < 30 && v < 65536) {
      if (kept.forall(w => Integer.bitCount(w ^ v) >= 6)) kept += v
      v += 1
    }
    require(kept.length == 30, "greedy 16-bit code came up short")
    kept.toIndexedSeq.map(w =>
      (0 until 4).map(i => w.toLong << (16 * i)).reduce(_ | _))
  }

  /** A 9×8 grayscale PNG whose dHash is EXACTLY `sig`: on a 9×8 image
    * the hash's nearest-neighbor grid IS the image and gray luma is
    * the pixel value, so choosing each row as a ±14 walk from 128
    * (down iff the bit is set) realizes any target signature —
    * dHash bit (y,x) = g(x,y) > g(x+1,y), MSB-first row-major
    * (ImageHash.scala golden-vector layout). Values stay in [16, 240]. */
  private[queries] def sigTargetImage(sig: Long): Array[Byte] = {
    val g = new Array[Int](72)
    var y = 0
    while (y < 8) {
      g(y * 9) = 128
      var x = 0
      while (x < 8) {
        val bit = (sig >>> (63 - (y * 8 + x))) & 1L
        g(y * 9 + x + 1) = g(y * 9 + x) + (if (bit == 1L) -14 else 14)
        x += 1
      }
      y += 1
    }
    graft.multimodal.Images.encodePng(9, 8, k => g(k / 3)) // gray: r=g=b
  }

  /** Two-batch rolling-media population over controllable-dHash PNGs:
    * batch 1 (even docs < 400) carries base class B_{(doc/2)%10};
    * batch 2 (odd docs < 400, k=(doc-1)/2) carries by role k%4 —
    * 0: exact B re-sight, 1: one-bit variant of B, 2/3: a class the
    * state has never seen. Statuses are therefore pure doc-id
    * arithmetic, which is what lets DuckDB oracle a perceptual-hash
    * operator it cannot compute. */
  private[queries] def sigSeenBatch(s: SparkSession, dir: String,
                           batch: Int): DataFrame =
    classSigBatch(s, dir, batch, sigTargetImage)

  /** The class-signature schedule of [[sigSeenBatch]], each doc's
    * target signature rendered to a payload by `render`. */
  private def classSigBatch(s: SparkSession, dir: String, batch: Int,
      render: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") % 2 === (batch - 1) && col("doc_id") < 400)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val sig =
          if (batch == 1) sigClassWords(((d / 2) % 10).toInt)
          else {
            val k = (d - 1) / 2
            val c = (k % 10).toInt
            (k % 4) match {
              case 0 => sigClassWords(c)
              case 1 => sigClassWords(c) ^ 1L
              case _ => sigClassWords(10 + c)
            }
          }
        (d, render(sig))
      }).toDF("doc_id", "payload")
  }

  /** The incremental pHash gate's two-batch population: batch 1 = the
    * gray plants, batch 2 = their exact-2× contrast re-renders under
    * +100000 ids. */
  private[queries] def phashSeenBatch(s: SparkSession, dir: String,
                             batch: Int): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").where(col("doc_id") < 24)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id =>
        if (batch == 1) (id, phashGrayPng(id, 1))
        else (id + 100000L, phashGrayPng(id, 2))))
      .toDF("doc_id", "payload")
  }

  /** Standing signature state for the incremental pHash gate — the
    * [[sigStateFor]] lifecycle over spectral image hashes: built once
    * per JVM+dir, the gate replays batch 2 per invocation. */
  private[queries] val phashSigStateFor = new IndexCache("graft_gate_phashstate",
    (s, dir, path) => {
      for (b <- 1 to 2)
        graft.dedup.SigSeen.foldBatch(phashSeenBatch(s, dir, b),
          col("doc_id"), ImageHash.pHash(col("payload")), path, b.toLong)
      ()
    })

  /** Standing perceptual-signature state for the incremental image
    * gate: batch 1 folded, then batch 2 — the gate itself REPLAYS
    * batch 2 per invocation (idempotent by the watermark guard). */
  private[queries] val sigStateFor = new IndexCache("graft_gate_sigstate",
    (s, dir, path) => {
      // foldBatch commits its delta EAGERLY; the lazy annotation frame
      // can be discarded here — the gate recomputes it as a replay
      for (b <- 1 to 2)
        graft.dedup.SigSeen.foldBatch(sigSeenBatch(s, dir, b),
          col("doc_id"), ImageHash.dHash(col("payload")), path, b.toLong)
      ()
    })

  /** A 130-sample 16-bit WAV whose audio fingerprint is EXACTLY `sig`
    * — the [[sigTargetImage]] trick on the energy grid: 65 two-sample
    * windows of constant positive value a_w (so E_w = 2·a_w²) with a_w
    * a ±1 walk from 100 (down iff the bit is set) realize any target,
    * since fingerprint bit (63−w) = E_w > E_{w+1} ⟺ a_w > a_{w+1}.
    * Values stay in [36, 164] — far from 16-bit clipping. */
  private[queries] def audioTargetClip(sig: Long): Array[Byte] = {
    val a = new Array[Int](65)
    a(0) = 100
    var w = 0
    while (w < 64) {
      val bit = (sig >>> (63 - w)) & 1L
      a(w + 1) = a(w) + (if (bit == 1L) -1 else 1)
      w += 1
    }
    val data = new Array[Byte](2 * 130)
    var i = 0
    while (i < 130) {
      val v = a(i / 2)
      data(2 * i) = (v & 0xFF).toByte
      data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    graft.multimodal.Containers.buildWav(1, 8000, 16, data)
  }

  /** The [[sigSeenBatch]] two-batch population re-rendered as WAV
    * clips: identical doc-id arithmetic, identical target signatures
    * ([[sigClassWords]]), so the incremental AUDIO gate shares the
    * image gate's from-scratch oracle shape. */
  private[queries] def audioSeenBatch(s: SparkSession, dir: String,
                             batch: Int): DataFrame =
    classSigBatch(s, dir, batch, audioTargetClip)

  /** Standing signature state for the incremental AUDIO gate — the
    * [[sigStateFor]] lifecycle over audio fingerprints. */
  private[queries] val audioSigStateFor = new IndexCache("graft_gate_audiostate",
    (s, dir, path) => {
      for (b <- 1 to 2)
        graft.dedup.SigSeen.foldBatch(audioSeenBatch(s, dir, b),
          col("doc_id"),
          graft.multimodal.AudioHash.fingerprint(col("payload")), path,
          b.toLong)
      ()
    })

  /** Gray value at flat pixel k of the [[sigTargetImage]] ±14 walk for
    * `sig` — the same construction exposed as a (sig, k) function so
    * the ANIMATION fixture can realize a chosen dHash per FRAME.
    * `private[graft]` so test fixtures (StreamingSigSeenSpec's AVI
    * clips) build on the ONE walk convention instead of copying it. */
  private[graft] def dhashWalkGray(sig: Long, k: Int): Int = {
    val y = k / 9
    val x = k % 9
    var v = 128
    var i = 0
    while (i < x) {
      val bit = (sig >>> (63 - (y * 8 + i))) & 1L
      v += (if (bit == 1L) -14 else 14)
      i += 1
    }
    v
  }

  /** Two-batch rolling-ANIMATION population over frame-controllable
    * GIFs (9×8 frames whose per-frame dHash is exact by
    * [[dhashWalkGray]]): batch 1 (even docs < 400) single-frame class
    * B_{(d/2)%10}; batch 2 single-frame roles for odd docs < 400 (the
    * [[sigSeenBatch]] arithmetic verbatim) PLUS two-frame docs for odd
    * 401 ≤ d < 440 — frame 0 a never-seen class (20-29), frame 1 an
    * exact base-class re-sight — which must come back `seen` through
    * the ANY-frame rule even though their first frame is novel. */
  private[queries] def gifSeenBatch(s: SparkSession, dir: String,
                           batch: Int): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val selected =
      if (batch == 1) docs.where(col("doc_id") % 2 === 0 &&
        col("doc_id") < 400)
      else docs.where(col("doc_id") % 2 === 1 && (col("doc_id") < 400 ||
        (col("doc_id") >= 401 && col("doc_id") < 440)))
    selected.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val sigs: Seq[Long] =
          if (batch == 1) Seq(sigClassWords(((d / 2) % 10).toInt))
          else if (d < 400) {
            val k = (d - 1) / 2
            val c = (k % 10).toInt
            Seq((k % 4) match {
              case 0 => sigClassWords(c)
              case 1 => sigClassWords(c) ^ 1L
              case _ => sigClassWords(10 + c)
            })
          } else {
            val j = ((d - 401) / 2).toInt
            Seq(sigClassWords(20 + j % 10), sigClassWords(j % 10))
          }
        val payload = graft.multimodal.Images.encodeAnimatedGifGray(
          9, 8, sigs.length, (f, k) => dhashWalkGray(sigs(f), k))
        (d, payload)
      }).toDF("doc_id", "payload")
  }

  /** Standing signature state for the incremental ANIMATION gate —
    * the [[sigStateFor]] lifecycle over per-frame dHashes through the
    * multi-signature fold. */
  private[queries] val gifSigStateFor = new IndexCache("graft_gate_gifstate",
    (s, dir, path) => {
      for (b <- 1 to 2)
        graft.dedup.SigSeen.foldBatchMulti(gifSeenBatch(s, dir, b),
          col("doc_id"), ImageHash.frameDHash(col("payload")), path,
          b.toLong)
      ()
    })

  /** The [[gifSeenBatch]] two-batch population re-rendered as
    * uncompressed-DIB AVI VIDEO: identical doc-id arithmetic,
    * identical target signatures, so the incremental video gate shares
    * the animation gate's from-scratch oracle — including the
    * two-frame docs (odd 401 ≤ d < 440) that must come back `seen`
    * through their second frame under the any-frame rule. */
  private[queries] def videoSeenBatch(s: SparkSession, dir: String,
                             batch: Int): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val selected =
      if (batch == 1) docs.where(col("doc_id") % 2 === 0 &&
        col("doc_id") < 400)
      else docs.where(col("doc_id") % 2 === 1 && (col("doc_id") < 400 ||
        (col("doc_id") >= 401 && col("doc_id") < 440)))
    selected.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val sigs: IndexedSeq[Long] =
          if (batch == 1) IndexedSeq(sigClassWords(((d / 2) % 10).toInt))
          else if (d < 400) {
            val k = (d - 1) / 2
            val c = (k % 10).toInt
            IndexedSeq((k % 4) match {
              case 0 => sigClassWords(c)
              case 1 => sigClassWords(c) ^ 1L
              case _ => sigClassWords(10 + c)
            })
          } else {
            val j = ((d - 401) / 2).toInt
            IndexedSeq(sigClassWords(20 + j % 10), sigClassWords(j % 10))
          }
        val payload = graft.multimodal.Avi.encodeAviGray(
          9, 8, sigs.length, (f, k) => dhashWalkGray(sigs(f), k))
        (d, payload)
      }).toDF("doc_id", "payload")
  }

  /** Standing signature state for the incremental VIDEO gate — the
    * [[gifSigStateFor]] lifecycle over per-frame dHashes of AVI
    * payloads through the multi-signature fold. */
  private[queries] val videoSigStateFor = new IndexCache("graft_gate_videostate",
    (s, dir, path) => {
      for (b <- 1 to 2)
        graft.dedup.SigSeen.foldBatchMulti(videoSeenBatch(s, dir, b),
          col("doc_id"), ImageHash.frameDHash(col("payload")), path,
          b.toLong)
      ()
    })

  /** One family's batch with the doc ids shifted into its OWN range —
    * the mixed-modality frame needs globally unique ids, and a
    * constant offset keeps every status restatable (the in-batch
    * min-doc arithmetic shifts by the same constant). */
  private[queries] def shiftIds(batch: DataFrame, offset: Long): DataFrame =
    batch.select((col("doc_id") + lit(offset)).as("doc_id"),
      col("payload"))

  private[queries] val MediaIncImg = 1000000L

  private[queries] val MediaIncAud = 2000000L

  private[queries] val MediaIncVid = 3000000L

  /** THREE standing signature states — image dHash, audio fingerprint,
    * video multi-sig — under one root, each built from its family's
    * two-batch population with ids shifted into the family's range:
    * the rolling-media month-2 story where ONE mixed crawl frame
    * advances every modality's state. The gate replays batch 2
    * (idempotent by the watermark guard), exactly the single-family
    * incremental gates' discipline. */
  private[queries] val mediaIncStateFor = new IndexCache("graft_gate_mediainc",
    (s, dir, path) => {
      for (b <- 1 to 2) {
        graft.dedup.SigSeen.foldBatch(
          shiftIds(sigSeenBatch(s, dir, b), MediaIncImg),
          col("doc_id"), ImageHash.dHash(col("payload")),
          path + "/img", b.toLong)
        graft.dedup.SigSeen.foldBatch(
          shiftIds(audioSeenBatch(s, dir, b), MediaIncAud),
          col("doc_id"),
          graft.multimodal.AudioHash.fingerprint(col("payload")),
          path + "/aud", b.toLong)
        graft.dedup.SigSeen.foldBatchMulti(
          shiftIds(videoSeenBatch(s, dir, b), MediaIncVid),
          col("doc_id"), ImageHash.frameDHash(col("payload")),
          path + "/vid", b.toLong)
      }
      ()
    })

  /** The shared gray-PNG synthesis of the pHash plants: equal-channel
    * pixel values ≤ 127·scale (integer luma is then the pixel value
    * itself), id-mixed so distinct docs land far apart; `scale = 2` is
    * the exact-contrast re-render. */
  private[queries] def phashGrayPng(id: Long, scale: Int): Array[Byte] = {
    def gv(p: Int): Int =
      (((p * 31 + p * p * 7) ^ (id * 131).toInt) % 120 + 120) % 120 + 4
    graft.multimodal.Images.encodePng(16, 12, k => gv(k / 3) * scale)
  }

  /** Memoized per-dataset trained linear scorer: closed-form training
    * is deterministic, so one train per JVM+dir serves Verify + Bench
    * + plan audits identically. Labels = Gopher pass on the raw text. */
  private[queries] val linearModelCache = new Memo[String, graft.text.LinearScorer.LinearModel]

  private[queries] def linearModelFor(s: SparkSession, dir: String) =
    linearModelCache(dir)(
      graft.text.LinearScorer.train(Tables(s, dir, "documents"),
        col("text"),
        graft.ops.TextExprs.gopherStats(coalesce(col("text"), lit("")))
          .getField("pass"),
        dim = 4096, version = "gopher"))

  /** Memoized per-dataset BPE merge table (driver-side training is
    * deterministic; Verify + Bench + plan audits in one session must not
    * retrain per invocation). */
  private[queries] val bpeMergeCache = new Memo[String, Seq[(String, String)]]

  private[queries] def bpeMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache(dir)(
      TextOps.trainBpeMerges(Tables(s, dir, "documents"), col("text"),
        numMerges = 50, maxVocabWords = 5000))

  /** Normalize-and-tokenize CTE (mirrors TextOps.normalized + tokens) —
    * the shared front of every shingle-based oracle. */
  /** SQL restatement of the [[Web]] synthesis formulas — the oracle
    * side of the warc/html/url/web gates. Exposes per-doc: the built
    * `html` page and messy `url`, the EXPECTED canonical `url_norm` +
    * `host` (stated from the arithmetic, not a re-implemented
    * normalizer), and the EXPECTED `extract` (h1 block, entity
    * round-tripped text with ASCII-ws collapsed, anchor block). */
  // NOTE: this fragment is interpolated into oracle strings that call
  // .stripMargin AGAIN — no line here may begin with '|' (a leading
  // '||' concat would lose a pipe to the second strip)
  private[queries] val webCte: String =
    """d AS (
      |  SELECT doc_id, lang, source, coalesce(text, '') AS t
      |  FROM documents),
      |w AS (
      |  SELECT *,
      |    '<html><head><title>t</title><script>var x = 1 < 2;</script>' ||
      |      '<style>p { }</style></head><body><h1>' || source ||
      |      '</h1><p>' ||
      |      replace(replace(replace(t, '&', '&amp;'), '<', '&lt;'),
      |        '>', '&gt;') ||
      |      '</p><a href="https://link.example/">link text</a>' ||
      |      '<!-- boilerplate --></body></html>' AS html,
      |    CASE cast(doc_id % 3 AS int)
      |      WHEN 0 THEN 'HTTP://User@WWW.Example-' || (doc_id % 10) ||
      |        '.COM.:80/' || source || '/' || doc_id ||
      |        '?utm_source=w&b=' || (doc_id % 7) || '&a=1#frag'
      |      WHEN 1 THEN 'https://API.Site' || (doc_id % 5) ||
      |        '.ORG:443?x=' || (doc_id % 4) || '&x=0'
      |      ELSE 'ftp://Files.' || source || '.Example.com/pub/' ||
      |        doc_id || '?c=2&A=1&' END AS url,
      |    CASE cast(doc_id % 3 AS int)
      |      WHEN 0 THEN 'http://www.example-' || (doc_id % 10) ||
      |        '.com/' || source || '/' || doc_id || '?a=1&b=' ||
      |        (doc_id % 7)
      |      WHEN 1 THEN 'https://api.site' || (doc_id % 5) ||
      |        '.org/?x=0&x=' || (doc_id % 4)
      |      ELSE 'ftp://files.' || lower(source) || '.example.com/pub/' ||
      |        doc_id || '?A=1&c=2' END AS url_norm,
      |    CASE cast(doc_id % 3 AS int)
      |      WHEN 0 THEN 'www.example-' || (doc_id % 10) || '.com'
      |      WHEN 1 THEN 'api.site' || (doc_id % 5) || '.org'
      |      ELSE 'files.' || lower(source) || '.example.com' END AS host,
      |    trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g'), ' ') AS coll
      |  FROM d),
      |x AS (
      |  SELECT *,
      |    CASE WHEN coll = '' THEN source || chr(10) || 'link text'
      |         ELSE source || chr(10) || coll || chr(10) || 'link text'
      |    END AS extract
      |  FROM w)""".stripMargin

  /** Normalized text of the string expression `t`: lowercased, every
    * char outside [a-z0-9\s] a space, whitespace runs collapsed to one
    * space, trimmed — the text the exact and n-gram dedup oracles key
    * on. */
  private[queries] def normTextSql(t: String): String =
    raw"""trim(regexp_replace(regexp_replace(lower($t), '[^a-z0-9\s]', ' ', 'g'),
         |      '\s+', ' ', 'g'))""".stripMargin

  /** The token list of [[normTextSql]]: split on whitespace, empty
    * tokens dropped. */
  private[queries] def normTokensSql(t: String): String =
    raw"""list_filter(string_split_regex(${normTextSql(t)}, '\s+'),
         |      w -> len(w) > 0)""".stripMargin

  /** The distinct word `n`-grams of the token list `l`, each joined by
    * '_'; a list shorter than `n` is one gram, the whole list (mirrors
    * Dedup.shingles). */
  private[queries] def ngramsSql(l: String, n: Int): String = {
    val gram = (0 until n).map(j => if (j == 0) s"$l[i]" else s"$l[i+$j]")
      .mkString(" || '_' || ")
    val end = if (n == 2) s"len($l)" else s"len($l) - ${n - 2}"
    s"""list_distinct(CASE
       |      WHEN len($l) < $n THEN [array_to_string($l, '_')]
       |      ELSE list_transform(range(1, $end),
       |        i -> $gram) END)""".stripMargin
  }

  private[queries] val toksCte: String =
    s"""toks AS (
       |  SELECT doc_id, ${normTokensSql("text")} AS l
       |  FROM documents)""".stripMargin

  /** Shared CTE chain computing the rare-shingle ngram-Jaccard pairs
    * (mirrors Dedup.ngramJaccardPairs; n=3, maxDf=100) — used by the
    * dedup_ngram oracle and as the edge set of the dedup_clusters
    * oracle. */
  private[queries] val ngramPairCtes: String =
    s"$toksCte,\n" +
    s"""sh AS (
      |  SELECT doc_id, unnest(${ngramsSql("l", 3)}) AS s
      |  FROM toks),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
      |pruned AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
      |common AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
      |  FROM pruned x JOIN pruned y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |njpairs AS (
      |  SELECT id_a, id_b,
      |    n_common / cast(ca.n_sh + cb.n_sh - n_common AS double) AS jac
      |  FROM common
      |  JOIN sizes ca ON ca.doc_id = id_a
      |  JOIN sizes cb ON cb.doc_id = id_b
      |  WHERE n_common / cast(ca.n_sh + cb.n_sh - n_common AS double) >= 0.8)""".stripMargin

  /** Shared synthetic media table for the container/decode gates: REAL
    * WAV/BMP payloads built from the documents columns — even doc_id →
    * 16-bit PCM WAV carrying the text's UTF-8 bytes (channels/rate
    * varied by id), odd → 24bpp BI_RGB BMP sized by the doc whose
    * pixel-array bytes follow a deterministic linear fill (padding
    * positions included; the decoder must exclude them). Every header
    * field and every content byte is a pure function of the source
    * columns, which is what lets the DuckDB oracles recompute both the
    * parsed metadata AND the decoded sample statistics. */
  private[queries] def syntheticMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Containers
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("text")), col("doc_id"))
      .as[(Long, Long, String)]
      .mapPartitions(_.map { case (id, nChars, text) =>
        val payload =
          if (id % 2 == 0)
            Containers.buildWav(
              channels = (1 + (id / 2) % 2).toInt,
              sampleRate = (8000 + (id % 5) * 1000).toInt,
              bitsPerSample = 16,
              data = Option(text).getOrElse("").getBytes("UTF-8"))
          else Containers.buildBmp(
            width = (1 + nChars % 64).toInt,
            height = (1 + id % 48).toInt,
            fill = i => ((i.toLong * 31 + id * 7) % 256).toByte)
        (id, if (id % 2 == 0) "audio/wav" else "image/bmp", payload,
          Map.empty[String, String])
      }).toDF("doc_id", "modality", "payload", "meta")
  }

  /** Shared synthetic compressed-image table for the image-decode gate:
    * REAL PNG/JPEG payloads encoded through javax.imageio from the
    * documents columns — even doc_id → RGB PNG whose channel value at
    * flat index k is (k*31 + id*7) % 256, odd → uniform even-gray JPEG
    * (gray = 28 + 2*((id*13) % 100) ∈ [28, 226]). Every dimension and
    * every decoded channel value is a pure function of the source
    * columns (PNG losslessly, JPEG via the exact uniform-gray
    * round-trip), which is what lets the DuckDB oracle recompute the
    * decoded statistics without decoding anything. */
  /** Deterministic animated-GIF media: per doc, (4 + id%5) × (3 + id%4)
    * pixels × (2 + id%3) frames of channel-equal gray
    * `((id*31 + f*17 + k*7) % 6) * 51` — six distinct grays per frame,
    * which the JDK GIF writer palettes exactly (ImagesSpec round-trip),
    * so the SQL oracle recomputes decoded statistics from this formula. */
  private[queries] def syntheticAnimations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Images
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val nf = (2 + id % 3).toInt
        val payload = Images.encodeAnimatedGifGray(w, h, nf,
          (f, k) => (((id * 31 + f.toLong * 17 + k.toLong * 7) % 6) * 51).toInt)
        (id, "image/gif", payload, Map.empty[String, String])
      }).toDF("doc_id", "modality", "payload", "meta")
  }

  /** Deterministic REAL uncompressed-DIB AVI payloads from table
    * columns — the VIDEO sibling of [[syntheticAnimations]]: the same
    * 6-gray-step fill arithmetic behind spec-conforming RIFF video
    * bytes ([[graft.multimodal.Avi.encodeAviGray]]), dimensions offset
    * so the populations stay distinct. Frames are then decoded BACK by
    * the in-repo RIFF walk, so a builder/decoder asymmetry in stride
    * padding, bottom-up row order, or BGR channel order cannot hide. */
  private[queries] def syntheticVideos(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Avi
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (6 + id % 5).toInt
        val h = (5 + id % 4).toInt
        val nf = (2 + id % 3).toInt
        val payload = Avi.encodeAviGray(w, h, nf,
          (f, k) => (((id * 31 + f.toLong * 17 + k.toLong * 7) % 6) * 51).toInt)
        (id, "video/avi", payload, Map.empty[String, String])
      }).toDF("doc_id", "modality", "payload", "meta")
  }

  /** Deterministic REAL MP3/MP4 payloads from table columns: even
    * doc_id → a fixed-bitrate MPEG-1 Layer III stream (spec-valid frame
    * headers, optional ID3v2 pad tag), odd → a conforming ISO BMFF
    * ftyp/moov/mdat tree. Container facts are then parsed BACK by the
    * byte-level walks ([[graft.multimodal.Containers.parseMp3]] /
    * `parseMp4`), so a builder/parser asymmetry in any header field
    * cannot hide — the same discipline as syntheticMedia's WAV/BMP. */
  private[queries] def syntheticAv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Containers
    val brs = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320)
    val rates = Array(44100, 48000, 32000)
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val payload =
          if (id % 2 == 0)
            Containers.buildMp3(version = 1,
              bitrateKbps = brs(((id / 2) % 14).toInt),
              sampleRate = rates((id % 3).toInt),
              channels = 1 + ((id / 2) % 2).toInt,
              nFrames = 2 + (id % 6).toInt,
              fill = i => ((i * 31 + id) % 251).toByte,
              id3Bytes = ((id % 3) * 7).toInt,
              // cycle Xing-tagged (VBR), Info-tagged (CBR header), and
              // untagged streams: the oracle subtracts the metadata
              // frame from the tagged docs' counts, so counting the
              // tag frame as music cannot hide
              tag = ((id / 2) % 3) match {
                case 0 => "Xing"; case 1 => "Info"; case _ => ""
              })
          else {
            val nT = 1 + (id % 3).toInt
            Containers.buildMp4(
              timescale = (600 * (1 + id % 5)).toInt,
              duration = (id * 137) % 100000,
              tracks = Seq.tabulate(nT)(t =>
                (16 + ((id + t) % 7).toInt, 9 + ((id + t) % 5).toInt)),
              mdatBytes = (id % 50).toInt,
              fill = i => ((i * 17 + id) % 253).toByte,
              // alternate tkhd v0/v1 (64-bit times) across docs: the
              // oracle's width/height arithmetic is version-blind, so
              // a v1 dimensions regression cannot hide
              tkhdVersion = ((id / 2) % 2).toInt)
          }
        (id, if (id % 2 == 0) "audio/mpeg" else "video/mp4", payload,
          Map.empty[String, String])
      }).toDF("doc_id", "modality", "payload", "meta")
  }

  private[queries] def syntheticImages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Images
    Dedup.spreadScan(Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        col("doc_id"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val payload =
          if (id % 2 == 0)
            Images.encodePng((1 + nChars % 16).toInt, (1 + id % 12).toInt,
              k => ((k.toLong * 31 + id * 7) % 256).toInt)
          else
            Images.encodeJpegGray((1 + nChars % 24).toInt,
              (1 + id % 16).toInt, (28 + 2 * ((id * 13) % 100)).toInt)
        (id, if (id % 2 == 0) "image/png" else "image/jpeg", payload,
          Map.empty[String, String])
      }).toDF("doc_id", "modality", "payload", "meta")
  }

  /** Frame-controlled AVI population for the FULLY-ORACLED video
    * near-dup gate: per doc < 60 a two-frame 9×8 clip whose frame
    * dHashes are EXACTLY `sigClassWords(d % 10)` (frame 0) and
    * `sigClassWords(10 + d % 7)` (frame 1) — [[dhashWalkGray]]
    * realizes any signature on the 9×8 grid, and an AVI gray pixel
    * (r=g=b) decodes to the walk value exactly. Same-class frames pair
    * at hamming 0, cross-class at ≥ 24, and frame-0 classes (0-9)
    * never meet frame-1 classes (10-16) — so the WHOLE pair set is
    * doc-id arithmetic, which is what lets DuckDB oracle a
    * video-perceptual operator it cannot compute (no rows-only twin
    * needed, unlike the natural-population gif_dedup). */
  private[queries] def videoDedupPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") < 60)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(d => (d, classAviPayload(d))))
      .toDF("doc_id", "payload")
  }

  /** The ONE two-frame class-signature AVI construction both
    * [[videoDedupPop]] and [[mediaCurationPop]] plant — their oracles
    * assume the two populations stay structurally identical, so the
    * synthesis must have a single definition. */
  private[queries] def classAviPayload(d: Long): Array[Byte] = {
    val sigs = IndexedSeq(sigClassWords((d % 10).toInt),
      sigClassWords(10 + (d % 7).toInt))
    graft.multimodal.Avi.encodeAviGray(9, 8, 2,
      (f, k) => dhashWalkGray(sigs(f), k))
  }

  /** [[classAviPayload]] re-encoded as MJPEG — byte-different payload,
    * same class fill. The ±14 walk's gradient-sign margin dwarfs the
    * q=0.95 JPEG quantization noise, so the per-frame dHashes decode
    * IDENTICAL to the DIB original (pinned in AviSpec) and the
    * cross-codec gate can assert hamming exactly 0. */
  private[queries] def classAviMjpegPayload(d: Long): Array[Byte] = {
    val sigs = IndexedSeq(sigClassWords((d % 10).toInt),
      sigClassWords(10 + (d % 7).toInt))
    graft.multimodal.Avi.encodeAviMjpegGray(9, 8, 2,
      (f, k) => dhashWalkGray(sigs(f), k))
  }

  /** The MIXED-MODALITY population for the media-curation capstone:
    * one frame with every media family a crawler actually lands —
    * video (the [[videoDedupPop]] two-frame class AVIs, ids < 60),
    * images (dHash-exact class PNGs under +100000), audio
    * (fingerprint-exact class WAVs under +200000), and NON-media text
    * bytes under +300000 (ids < 20) that must classify `unknown` and
    * join no pair. Every family's pair set is class arithmetic, so the
    * whole capstone summary is restatable in SQL. */
  private[queries] def mediaCurationPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val video = Tables(s, dir, "documents")
      .where(col("doc_id") < 60)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        Seq(
          (d, classAviPayload(d)),
          (d + 100000L, sigTargetImage(sigClassWords((d % 10).toInt))),
          (d + 200000L, audioTargetClip(sigClassWords((d % 10).toInt))))
      }).toDF("doc_id", "payload")
    val unknown = Tables(s, dir, "documents")
      .where(col("doc_id") < 20)
      .select((col("doc_id") + lit(300000L)).cast("long").as("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
    video.unionByName(unknown)
  }

  /** Scene-structured AVI clips for the cut-detection gate: six 9×8
    * frames, frames 0-2 realizing class `d % 10` exactly and frames
    * 3-5 class `10 + d % 7` — within-scene consecutive hamming is 0
    * (identical signatures) and the single cut at frame 3 crosses
    * classes ≥ 24 bits apart, so `is_cut` is pure doc-id arithmetic. */
  private[queries] def videoScenePop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") < 120)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val a = sigClassWords((d % 10).toInt)
        val b = sigClassWords(10 + (d % 7).toInt)
        (d, graft.multimodal.Avi.encodeAviGray(9, 8, 6,
          (f, k) => dhashWalkGray(if (f < 3) a else b, k)))
      }).toDF("doc_id", "payload")
  }

  /** Window-controllable WAV clips for the energy-segmentation gate:
    * 40 windows × 8 samples, window w carrying constant amplitude 1000
    * (energy 8·10⁶) when `(d·31 + w·7) % 5 < 2` and 10 (energy 800)
    * otherwise — the active/silent pattern, and therefore every
    * segment boundary, is pure doc-id arithmetic. */
  private[queries] def audioSegPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") < 200)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val data = new Array[Byte](2 * 320)
        var i = 0
        while (i < 320) {
          val w = i / 8
          val v = if ((d * 31 + w * 7) % 5 < 2) 1000 else 10
          data(2 * i) = (v & 0xFF).toByte
          data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        (d, graft.multimodal.Containers.buildWav(1, 8000, 16, data))
      }).toDF("doc_id", "payload")
  }

  /** Bounded WAV population for the audio-dedup gates: per doc < 300 a
    * 16-bit mono clip of 200 + id%50 pseudo-noise samples (id-seeded
    * stride, values in [-100, 100]), plus two plant families on ids
    * < 8 — byte-identical clones under +1000000 and 2×-amplitude
    * re-renders under +2000000. The scaled plants are the PERCEPTUAL
    * leg: different bytes, identical energy-delta signs (energy scales
    * by exactly 4), hamming 0. */
  private[queries] def audioDedupPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Containers
    Tables(s, dir, "documents")
      .where(col("doc_id") < 300)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        def clip(scale: Int): Array[Byte] = {
          val n = (200 + id % 50).toInt
          val data = new Array[Byte](2 * n)
          var i = 0
          while (i < n) {
            val v = (((i * (7 + id % 13) + id * 3) % 201) - 100).toInt * scale
            data(2 * i) = (v & 0xFF).toByte
            data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          Containers.buildWav(1, 8000, 16, data)
        }
        // cross-codec plant: a PCM clip of per-window CONSTANT
        // amplitudes from two well-separated levels {500, 2000} and
        // its G.711 µ-law re-encode. Equal amplitudes quantize to
        // equal decoded values (ties stay exact ties) and the 16×
        // energy separation between levels swamps the compander's
        // ≤ ~12% relative error, so the re-encode lands at hamming
        // EXACTLY 0 — an oracle-restatable cross-codec recall pin.
        def twoLevelSamples: Array[Int] = Array.tabulate(130) { i =>
          val bit = ((id * 0x9E3779B97F4A7C15L) >>> ((i / 2) % 64)) & 1L
          if (bit == 1L) 2000 else 500
        }
        def twoLevelPcm: Array[Byte] = {
          val s0 = twoLevelSamples
          val data = new Array[Byte](2 * s0.length)
          var i = 0
          while (i < s0.length) {
            data(2 * i) = (s0(i) & 0xFF).toByte
            data(2 * i + 1) = ((s0(i) >> 8) & 0xFF).toByte
            i += 1
          }
          Containers.buildWav(1, 8000, 16, data)
        }
        def twoLevelUlaw: Array[Byte] =
          Containers.buildWav(1, 8000, 8,
            twoLevelSamples.map(v => Containers.linearToUlaw(v).toByte),
            Containers.FormatUlaw)
        def twoLevelAlaw: Array[Byte] =
          Containers.buildWav(1, 8000, 8,
            twoLevelSamples.map(v => Containers.linearToAlaw(v).toByte),
            Containers.FormatAlaw)
        val base = Seq((id, clip(1)))
        if (id < 8)
          base ++ Seq((id + 1000000L, clip(1)), (id + 2000000L, clip(2)),
            (id + 3000000L, twoLevelPcm), (id + 4000000L, twoLevelUlaw),
            (id + 5000000L, twoLevelAlaw))
        else base
      }).toDF("doc_id", "payload")
  }

  /** An IMA ADPCM cross-codec plant pair: a 260-sample waveform
    * GENERATED by the decoder state machine itself from id-seeded
    * codes (every diff exactly representable; the sign steers back
    * inside ±20000 so the int16 clamp never fires; magnitudes cool the
    * step index above 40; no negative-zero code), rendered both as
    * 16-bit PCM and as a single-block ADPCM encode. Because the
    * quantizer exactly inverts the state machine on representable
    * diffs, the ADPCM decode reproduces the waveform SAMPLE-FOR-SAMPLE
    * — identical decoded arrays, identical fingerprints, hamming
    * provably 0 (AdpcmSpec pins the identity). Returns (pcm, adpcm)
    * WAV payloads. */
  private[queries] def adpcmPlantPair(id: Long): (Array[Byte], Array[Byte]) = {
    import graft.multimodal.Containers
    val n = 260
    val samples = new Array[Int](n)
    var pred = (500 + (id * 137) % 900).toInt
    var idx = 0
    samples(0) = pred
    var seed = id * 0x9E3779B97F4A7C15L + 0x2545F491L
    var i = 1
    while (i < n) {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      val mag = (((seed >>> 3) & 0x7FFFFFFFL) %
        (if (idx > 40) 4 else 8)).toInt
      var neg = ((seed >>> 11) & 1L) == 1L
      if (pred > 20000) neg = true
      if (pred < -20000) neg = false
      if (mag == 0) neg = false
      val nib = mag | (if (neg) 8 else 0)
      val next = Containers.imaAdpcmAdvance(pred, idx, nib)
      pred = next._1
      idx = next._2
      samples(i) = pred
      i += 1
    }
    val data = new Array[Byte](2 * n)
    i = 0
    while (i < n) {
      data(2 * i) = (samples(i) & 0xFF).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    (Containers.buildWav(1, 8000, 16, data),
      Containers.buildWavImaAdpcm(8000, samples))
  }

  /** The ADPCM cross-codec population: 8 PCM/ADPCM twin pairs under
    * +6000000/+7000000 — its own population (not folded into
    * [[audioDedupPop]]) so the standing audio gates' row sets stay
    * bit-stable. */
  private[queries] def audioAdpcmPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") < 8)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val (pcm, adp) = adpcmPlantPair(id)
        Seq((id + 6000000L, pcm), (id + 7000000L, adp))
      }).toDF("doc_id", "payload")
  }

  private[queries] def phashDedupPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .where(col("doc_id") < 8)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        Seq((id, phashGrayPng(id, 1)), (id + 1000000L, phashGrayPng(id, 1)),
          (id + 2000000L, phashGrayPng(id, 2)))
      }).toDF("doc_id", "payload")
  }

  private[queries] def imageDedupPop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Images
    val base = syntheticImages(s, dir)
      .where(col("doc_id") % 2 === 0 && col("doc_id") < 400)
      .select(col("doc_id"), col("payload"))
    val clones = base.where(col("doc_id") < 8)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("payload"))
    val plants = Tables(s, dir, "documents")
      .where(col("doc_id") % 2 === 0 && col("doc_id") < 8)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        def fill(k: Int): Int = ((k.toLong * 31 + id * 7) % 256).toInt
        val clean = Images.encodePng(16, 12, fill)
        val pert = Images.encodePng(16, 12,
          k => if ((k / 3) % 16 == 2) (fill(k) + 97) % 256 else fill(k))
        Seq((id + 2000000L, clean), (id + 3000000L, pert))
      }).toDF("doc_id", "payload")
    base.unionByName(clones).unionByName(plants)
  }
}
