package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextOps

import Tier._
import GateFixtures._

/** Web-crawl gates over synthetic pages: HTML extraction, URL
  * normalization and dedup, redirects, anchors, link-graph rank, robots,
  * sitemaps, frontier scheduling and model/gopher scoring. */
object WebGates {

  /** Shared CTE chain of the TRAINED linear scorer's oracle: labels
    * (Gopher pass on raw text), md5-bucketed distinct-token presence
    * features, smoothed probability-difference weights, and the
    * per-doc (sum, count) score inputs — reused by the scoring gate
    * and every composition that ranks by the trained score. */
  private val trainedScoreCtes: String =
    s"""w0 AS (
       |  SELECT doc_id, coalesce(text, '') AS t FROM documents),
       |wds AS (
       |  SELECT doc_id, t,
       |    ${gopherListsSql("t")}
       |  FROM w0),
       |c AS (
       |  SELECT doc_id,
       |    ${gopherCountersSql("t")}
       |  FROM wds),
       |lab AS (
       |  SELECT doc_id, ${gopherPassSql()} AS y
       |  FROM c),
       |""".stripMargin +
    """tk AS (
        |  SELECT doc_id, list_distinct(list_filter(list_transform(
        |    string_split_regex(coalesce(text, ''), '[ \t\n\x0b\f\r]+'),
        |    x -> regexp_replace(lower(x), '[^a-z0-9]', '', 'g')),
        |    x -> len(x) > 0)) AS toks
        |  FROM documents),
        |fb AS (
        |  SELECT doc_id, list_distinct(list_transform(toks,
        |    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 4096)) AS bs
        |  FROM tk),
        |e AS (SELECT doc_id, unnest(bs) AS b FROM fb),
        |n AS (SELECT sum(y) AS npos, count(*) AS ntot FROM lab),
        |bc AS (SELECT b, sum(y) AS pos, count(*) AS tot
        |       FROM e JOIN lab USING (doc_id) GROUP BY b),
        |wt AS (SELECT b,
        |    (pos + 1) * 1000000 // (SELECT npos + 2 FROM n)
        |  - (tot - pos + 1) * 1000000 // (SELECT ntot - npos + 2 FROM n)
        |    AS wgt
        |  FROM bc),
        |sc AS (SELECT e.doc_id, sum(wt.wgt) AS s, count(*) AS k
        |       FROM e JOIN wt USING (b) GROUP BY e.doc_id)""".stripMargin

  // ── SQL restatements shared with the WARC capstones ────────────────

  /** Word and line lists of text column `t`, as `ws` and `ls`. */
  private[queries] def gopherListsSql(t: String): String =
    raw"""list_filter(string_split_regex($t, '[ \t\n\x0b\f\r]+'),
         |      x -> len(x) > 0) AS ws,
         |    string_split($t, chr(10)) AS ls""".stripMargin

  /** The eight Gopher counters of `TextExprs.gopherStats` over text `t`
    * and its [[gopherListsSql]] lists; `nWords` names the word count. */
  private[queries] def gopherCountersSql(t: String,
      nWords: String = "n_words"): String =
    s"""cast(len(ws) AS bigint) AS $nWords,
       |    cast(coalesce(list_aggregate(list_transform(ws, x -> len(x)),
       |      'sum'), 0) AS bigint) AS word_cps,
       |    cast((len($t) - len(replace($t, '#', '')))
       |      + (len($t) - len(replace($t, '…', '')))
       |      + (len($t) - len(replace($t, '...', ''))) // 3
       |      AS bigint) AS n_symbols,
       |    cast(len(ls) AS bigint) AS n_lines,
       |    cast(len(list_filter(ls, l ->
       |      starts_with(ltrim(l, ' ' || chr(9)), '•') OR
       |      starts_with(ltrim(l, ' ' || chr(9)), '‣') OR
       |      starts_with(ltrim(l, ' ' || chr(9)), '-') OR
       |      starts_with(ltrim(l, ' ' || chr(9)), '*')))
       |      AS bigint) AS n_bullet_lines,
       |    cast(len(list_filter(ls, l ->
       |      ends_with(rtrim(l, ' ' || chr(9)), '…') OR
       |      ends_with(rtrim(l, ' ' || chr(9)), '...')))
       |      AS bigint) AS n_ellipsis_lines,
       |    cast(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS bigint) AS n_alpha_words,
       |    cast(len(list_filter(ws, x -> list_contains(
       |      ['the','be','to','of','and','that','have','with'],
       |      lower(x)))) AS bigint) AS n_stop_hits""".stripMargin

  /** The Gopher pass rule (1 or 0) over [[gopherCountersSql]]. */
  private[queries] def gopherPassSql(nWords: String = "n_words"): String =
    s"""CASE WHEN $nWords >= 50 AND $nWords <= 100000
       |    AND 3 * $nWords <= word_cps AND word_cps <= 10 * $nWords
       |    AND 10 * n_symbols <= $nWords
       |    AND 10 * n_bullet_lines <= n_lines
       |    AND 10 * n_ellipsis_lines <= 3 * n_lines
       |    AND 5 * n_alpha_words >= 4 * $nWords
       |    AND n_stop_hits >= 2 THEN 1 ELSE 0 END""".stripMargin

  /** The synthetic crawl's host graph: every page links its host to
    * `www.example-((id+3)%10).com` and to `hub.example`. */
  private[queries] def hostEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, src) =>
        val from = Web.host(id, src)
        Seq((from, "www.example-" + ((id + 3) % 10) + ".com"),
          (from, "hub.example"))
      }).toDF("src", "dst")
  }

  /** [[hostEdges]] as an `ed (src, dst)` CTE over webCte's `x`. */
  private[queries] val hostEdgesSql: String =
    """ed AS (
      |  SELECT host AS src,
      |    'www.example-' || ((doc_id + 3) % 10) || '.com' AS dst
      |  FROM x
      |  UNION ALL SELECT host, 'hub.example' FROM x)""".stripMargin

  /** GraphOps.pageRankFixedPoint(iters = 3) replayed bit-for-bit over
    * an `ed (src, dst)` CTE: r0 = R//N, then 3 unrolled iterations of
    * base + (17*S)//20 with S = Σ r//outdeg over in-edges (dangling
    * mass drops, per the operator contract). `i3 (node, r)` holds the
    * final ranks. */
  private[queries] val pageRankCtes: String =
    ("""nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
       |par AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |od AS (SELECT src, count(*)::BIGINT AS outd FROM ed GROUP BY src),
       |r0 AS (SELECT node, 1000000000::BIGINT // n AS r
       |  FROM nodes CROSS JOIN par)""".stripMargin +:
      Seq("r0", "i1", "i2").zipWithIndex.map { case (prev, i) =>
        s"""i${i + 1} AS (
           |  SELECT nodes.node,
           |    (3::BIGINT * 1000000000) // (20 * n)
           |      + (17 * coalesce(s.s, 0)) // 20 AS r
           |  FROM nodes CROSS JOIN par
           |  LEFT JOIN (SELECT ed.dst AS node, sum($prev.r // od.outd) AS s
           |             FROM ed JOIN $prev ON ed.src = $prev.node
           |             JOIN od ON ed.src = od.src
           |             GROUP BY ed.dst) s ON nodes.node = s.node)""".stripMargin
      }).mkString(",\n")

  val gates: Seq[Gate] = Seq(

    // HTML→text boilerplate extraction (codegen kernel): deterministic
    // pages wrap each doc's ESCAPED text in real page furniture
    // (title/script/style to drop, h1 + anchor blocks, a comment), and
    // the kernel must strip the furniture, decode the entities back to
    // the original text, collapse ASCII whitespace, and segment blocks.
    // The oracle rebuilds the expected extract from the source columns
    // alone — chars, md5, and the anchor-share link-density ppm.
    Gate("html_extract", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, t, src) => (id, Web.html(t, src)) })
        .toDF("doc_id", "html")
      // the one-walk struct form: txt and link_ppm from a single page
      // pass (subexpression elimination reuses the struct)
      pages.select(col("doc_id"),
          graft.ops.HtmlExprs.htmlExtractStats(col("html")).as("s"))
        .select(col("doc_id"),
          length(col("s.txt")).cast("long").as("extract_chars"),
          md5(col("s.txt")).as("extract_md5"),
          col("s.link_ppm").as("link_ppm"))
        .orderBy(col("doc_id"))
    },
      // expected extract restated from the source columns (block
      // segmentation + entity round-trip + ASCII-ws collapse), never by
      // re-running an extractor
      s"""WITH $webCte
         |SELECT doc_id,
         |  cast(length(extract) AS bigint) AS extract_chars,
         |  md5(extract) AS extract_md5,
         |  9 * 1000000 // length(extract) AS link_ppm
         |FROM x ORDER BY doc_id""".stripMargin),

    // Link extraction (the hrefs codegen kernel) — the link-graph
    // emitter feeding PageRank: document order, duplicates kept,
    // hrefless anchors skipped, and a SCRIPT DECOY
    // (document.write('<a href=…>')) that must stay content, not
    // markup. The oracle restates the expected href list (joined on
    // chr(1)) from the synthesis arithmetic alone.
    Gate("html_links", Bench, (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          (id, Web.linksHtml(id, src))
        })
        .toDF("doc_id", "html")
        .select(col("doc_id"),
          graft.ops.HtmlExprs.hrefs(col("html")).as("ls"))
        .select(col("doc_id"), size(col("ls")).cast("long").as("n_links"),
          md5(array_join(col("ls"), "\u0001")).as("links_md5"))
        .orderBy(col("doc_id"))
    },
      // the expected href list (document order, duplicate kept, script
      // decoy and hrefless anchor absent) restated from the synthesis
      // arithmetic and joined on chr(1)
      """SELECT doc_id,
        |  cast(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS bigint)
        |    AS n_links,
        |  md5('https://a.example/' || doc_id || chr(1) ||
        |      '/rel/' || source || chr(1) ||
        |      'https://a.example/' || doc_id ||
        |      CASE WHEN doc_id % 3 = 0
        |        THEN chr(1) || 'https://b.example/?q=' || doc_id
        |        ELSE '' END) AS links_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // URL-LEVEL crawl dedup — the chain the normalizer exists for:
    // two differently-messy spellings per doc of the same logical page
    // (userinfo + default port + tracking params + fragment vs a bare
    // trailing-'?' form) collapse through urlNormalize into one
    // canonical key, cross-DOC collisions included (the key is
    // doc_id % 125), then one groupBy picks the canonical first doc
    // and counts spellings. The oracle restates the canonical form
    // and both aggregates from the synthesis arithmetic.
    Gate("url_dedup", Bench, (s, dir) => {
      urlSpellings(s, dir)
        .select(col("doc_id"),
          graft.ops.HtmlExprs.urlNormalize(col("url")).as("url_canon"))
        .groupBy(col("url_canon"))
        .agg(count(lit(1)).as("n_spellings"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("url_canon"))
    },
      // canonical key, spelling count, and first-doc pick all restated
      // from the synthesis arithmetic (2 spellings per doc; the key
      // collapses to doc_id % 125)
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://site' || (doc_id % 25) || '.example/p/' ||
        |      (doc_id % 125) AS url_canon
        |  FROM documents)
        |SELECT url_canon,
        |  cast(2 * count(*) AS bigint) AS n_spellings,
        |  cast(min(doc_id) AS bigint) AS first_doc
        |FROM u GROUP BY url_canon ORDER BY url_canon""".stripMargin),

    // Redirect-chain resolution over REAL WARC plumbing: 3xx records'
    // Location headers (relative AND absolute — urlResolve runs
    // against each record's own URI) become edges; pointer doubling
    // maps every redirect source to its final URL in ⌈log₂ 8⌉+1
    // self-joins. The loop plants must come back non-terminal. The
    // oracle restates every row from the synthesis arithmetic.
    Gate("redirect_resolve", Bench, (s, dir) => {
      resolvedRedirects(s, dir)
        .orderBy(col("url"))
    },
      // every resolution row restated from the synthesis arithmetic: the
      // 301 source lands 2 hops out, the 302 source 1 hop, loop members
      // are non-terminal with null final/hops
      """WITH d AS (SELECT doc_id FROM documents),
        |r AS (
        |  SELECT 'https://r.example/a/' || doc_id AS url,
        |    'https://final.example/p/' || (doc_id % 50) AS final_url,
        |    2 AS hops, true AS terminal FROM d
        |  UNION ALL
        |  SELECT 'https://r.example/b/' || doc_id,
        |    'https://final.example/p/' || (doc_id % 50), 1, true FROM d
        |  UNION ALL
        |  SELECT 'https://loop.example/x/' || doc_id, NULL, NULL, false
        |  FROM d WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'https://loop.example/y/' || doc_id, NULL, NULL, false
        |  FROM d WHERE doc_id % 10 = 0)
        |SELECT url, final_url, cast(hops AS bigint) AS hops, terminal
        |FROM r ORDER BY url""".stripMargin),

    // …and the resolved final URL FEEDS URL dedup: chains collapse
    // onto their landing page — n_sources spellings per final target,
    // lexicographic-min first source (both UTF8-ordered on each side)
    Gate("redirect_dedup", Bench, (s, dir) => {
      resolvedRedirects(s, dir)
        .where(col("terminal"))
        .groupBy(col("final_url"))
        .agg(count(lit(1)).as("n_sources"), min(col("url")).as("first_url"))
        .orderBy(col("final_url"))
    },
      // per landing page: 2 sources per doc in its %50 class; the min
      // source is the lexicographic-min 'a/'-spelling (both engines
      // compare the same UTF-8 strings)
      """SELECT 'https://final.example/p/' || (doc_id % 50) AS final_url,
        |  cast(2 * count(*) AS bigint) AS n_sources,
        |  min('https://r.example/a/' || doc_id) AS first_url
        |FROM documents
        |GROUP BY doc_id % 50
        |ORDER BY final_url""".stripMargin),

    // Per-TARGET anchor aggregation — the query-document pair table:
    // canonical target URL → sorted distinct anchor strings + counts,
    // joined back to the target's document row. Composes hrefTexts ×
    // urlResolve (one href is RELATIVE to the linking page) ×
    // urlNormalize (one href is a messy spelling that must collapse
    // onto the clean one) × pack; the aggregation chain runs on ONE
    // shuffle (PlanSpec pins it). The oracle replays the synthesis
    // links and the whole aggregation from scratch.
    Gate("anchor_targets", Bench, (s, dir) => {
      val i = col("doc_id")
      val k = (col("doc_id") + 1) % 125
      val pages = Tables(s, dir, "documents").select(
        concat(lit("https://h"), i % 10, lit(".example/page/"), i)
          .as("page_url"),
        concat(
          lit("<p>pre</p><a href='HTTPS://Site"), k % 25,
          lit(".EXAMPLE.:443/p/"), k, lit("?utm_source=l#x'>anchor "),
          i % 3, lit("</a>"),
          lit("<a href='https://site"), k % 25, lit(".example/p/"), k,
          lit("'>read more</a>"),
          lit("<a href='/local/"), i % 20, lit("'>local link</a>"),
          lit("<a>no href, no pair</a>")).as("html"))
      val agg = graft.ops.LinkSignals.anchorsPerTarget(
        pages, col("page_url"), col("html"))
      // join back to the target's document row: the url_dedup canonical
      // (first doc per canonical URL); /local/ targets are not documents
      // and stay null on both sides
      val canon = urlSpellings(s, dir)
        .select(graft.ops.HtmlExprs.urlNormalize(col("url")).as("cu"),
          col("doc_id"))
        .groupBy(col("cu")).agg(min(col("doc_id")).as("target_doc"))
      agg.join(canon.hint("merge"), col("target_url") === col("cu"), "left")
        .select(col("target_url"), col("target_doc"),
          col("n_links"), col("n_anchors"),
          md5(array_join(transform(col("anchors"),
            a => concat(a.getField("anchor"), lit(""),
              a.getField("n"))), "")).as("anchors_md5"))
        .orderBy(col("target_url"))
    },
      // full from-scratch replay: the synthesis links (messy + clean
      // absolute spellings of the same target, a page-relative local
      // link), the per-(target, anchor) counts, the sorted pack, and the
      // canonical-document join-back
      """WITH d AS (SELECT doc_id, (doc_id + 1) % 125 AS k FROM documents),
        |links AS (
        |  SELECT 'https://site' || (k % 25) || '.example/p/' || k
        |    AS target_url, 'anchor ' || (doc_id % 3) AS anchor FROM d
        |  UNION ALL
        |  SELECT 'https://site' || (k % 25) || '.example/p/' || k,
        |    'read more' FROM d
        |  UNION ALL
        |  SELECT 'https://h' || (doc_id % 10) || '.example/local/' ||
        |    (doc_id % 20), 'local link' FROM d),
        |pa AS (SELECT target_url, anchor, count(*) AS n
        |  FROM links GROUP BY 1, 2),
        |agg AS (
        |  SELECT target_url, cast(sum(n) AS bigint) AS n_links,
        |    cast(count(*) AS bigint) AS n_anchors,
        |    md5(array_to_string(
        |      list(anchor || chr(2) || n ORDER BY anchor), chr(1)))
        |      AS anchors_md5
        |  FROM pa GROUP BY target_url),
        |canon AS (
        |  SELECT 'https://site' || (doc_id % 25) || '.example/p/' ||
        |    (doc_id % 125) AS cu, min(doc_id) AS first_doc
        |  FROM documents GROUP BY 1)
        |SELECT a.target_url, cast(c.first_doc AS bigint) AS target_doc,
        |  a.n_links, a.n_anchors, a.anchors_md5
        |FROM agg a LEFT JOIN canon c ON c.cu = a.target_url
        |ORDER BY a.target_url""".stripMargin),

    // Crawl-frontier construction — the composed next-batch fetch
    // list: sitemap page entries (sitemap_entries kernel) ∪ link
    // targets (hrefs × urlResolve), normalized, folded against the
    // STANDING UrlSeen index (pre-seeded with the url_dedup canonical
    // set = what the crawl already fetched). Only status='new' rows
    // survive — link targets pointing at already-crawled pages must
    // drop as 'seen', sitemap discoveries must surface exactly once
    // (their batch-first doc). The oracle recomputes candidates, the
    // seen set, and the min-doc pick from scratch; the fold runs as a
    // batch-2 REPLAY on re-invocation, so repeated Verify/Bench calls
    // in one JVM must (and do) judge identically.
    Gate("frontier_pipeline", Bench, (s, dir) => {
      val statePath = frontierStateFor(s, dir)
      val docs = Tables(s, dir, "documents")
      val sm = docs.select(col("doc_id"),
          explode(graft.ops.SitemapExprs.sitemapEntries(concat(
            lit("<urlset><url><loc>https://f.example/page/"),
            col("doc_id") % 40, lit("</loc></url></urlset>")))).as("e"))
        .select(col("doc_id"), col("e.loc").as("url"))
      val k = (col("doc_id") + 1) % 125
      val links = docs.select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 10,
            lit(".example/page/"), col("doc_id")).as("page"),
          explode(graft.ops.HtmlExprs.hrefs(concat(
            lit("<a href='https://site"), k % 25, lit(".example/p/"), k,
            lit("'>seen already</a>")))).as("href"))
        .select(col("doc_id"),
          graft.ops.HtmlExprs.urlResolve(col("page"), col("href"))
            .as("url"))
      graft.dedup.UrlSeen.foldBatch(sm.unionByName(links),
          col("doc_id"), col("url"), statePath, 2L)
        .where(col("status") === "new")
        .select(col("url_canon"), col("first_doc"))
        .orderBy(col("url_canon"))
    },
      // from-scratch recompute of the frontier: candidates (sitemap locs
      // + link targets), the already-fetched canonical set, the not-seen
      // filter, and the min-doc first-occurrence pick
      """WITH cand AS (
        |  SELECT doc_id, 'https://f.example/page/' || (doc_id % 40) AS u
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    'https://site' || (((doc_id + 1) % 125) % 25) ||
        |      '.example/p/' || ((doc_id + 1) % 125)
        |  FROM documents),
        |seen AS (
        |  SELECT DISTINCT 'https://site' || (doc_id % 25) ||
        |    '.example/p/' || (doc_id % 125) AS u
        |  FROM documents)
        |SELECT u AS url_canon, cast(min(doc_id) AS bigint) AS first_doc
        |FROM cand WHERE u NOT IN (SELECT u FROM seen)
        |GROUP BY u ORDER BY u""".stripMargin),

    // Redirect-AWARE frontier judging — closes the loop between
    // resolveChains and UrlSeen: a discovered URL whose fetch
    // 3xx-redirects to an already-crawled final URL must come back
    // 'seen', not re-enter the frontier as 'new'. Candidates resolve
    // through the redirect map first (pointer doubling; the planted
    // 2-hop chains prove composition, not just single edges) and the
    // fold judges coalesce(final_url, url). The oracle replays chain
    // resolution AND the state arithmetic from scratch: even-k
    // redirect targets land on the batch-1 canonical set (seen, with
    // the STATE's first doc = k), odd-k targets and direct URLs are
    // novel and split new/dup_in_batch by batch-min doc.
    Gate("frontier_redirect", Bench, (s, dir) => {
      val statePath = frontierRedirectStateFor(s, dir)
      val docs = Tables(s, dir, "documents")
      val k = col("doc_id") % 80
      val edges = docs.select(
          concat(lit("https://r.example/go/"), k).as("src"),
          when(k % 2 === 0,
            concat(lit("https://site"), k % 25, lit(".example/p/"), k))
            .otherwise(concat(lit("https://new.example/land/"), k))
            .as("dst"))
        .unionByName(docs.select(
          concat(lit("https://r.example/hop/"), k).as("src"),
          concat(lit("https://r.example/go/"), k).as("dst")))
      val cand = docs.select(col("doc_id"),
          concat(lit("https://r.example/go/"), k).as("url"))
        .unionByName(docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            concat(lit("https://r.example/hop/"), k).as("url")))
        .unionByName(docs.select(col("doc_id"),
          concat(lit("https://direct.example/d/"), col("doc_id") % 30)
            .as("url")))
      val res = graft.ingest.Redirects.resolveChains(
        edges, col("src"), col("dst"))
      val judged = cand
        .select(col("doc_id"),
          graft.ops.HtmlExprs.urlNormalize(col("url")).as("u"))
        .join(res.hint("shuffle_hash"), col("u") === col("url"), "left")
        .select(col("doc_id"),
          coalesce(col("final_url"), col("u")).as("target"))
      graft.dedup.UrlSeen.foldBatch(judged, col("doc_id"),
          col("target"), statePath, 2L)
        .orderBy(col("doc_id"), col("url_canon"))
    },
      // from-scratch replay of redirect resolution + state judging: the
      // go/hop candidates of even k chain (1 and 2 hops) onto the
      // batch-1 canonical URL site(k%25)/p/k, whose state first_doc is
      // min{d : d%125 = k} = k (docs are contiguous from 0); odd-k
      // chains land on never-seen land/k, and direct candidates never
      // resolve — both judged within the batch by min doc
      """WITH c AS (
        |  SELECT doc_id, doc_id % 80 AS k, 'go' AS kind FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id % 80, 'hop' FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id % 30, 'direct' FROM documents),
        |t AS (
        |  SELECT doc_id, kind, k,
        |    CASE WHEN kind = 'direct'
        |           THEN 'https://direct.example/d/' || k
        |         WHEN k % 2 = 0
        |           THEN 'https://site' || (k % 25) || '.example/p/' || k
        |         ELSE 'https://new.example/land/' || k END AS url_canon
        |  FROM c),
        |f AS (SELECT url_canon, min(doc_id) AS bf FROM t GROUP BY url_canon)
        |SELECT t.doc_id, t.url_canon,
        |  CASE WHEN t.kind <> 'direct' AND t.k % 2 = 0 THEN 'seen'
        |       WHEN t.doc_id = f.bf THEN 'new'
        |       ELSE 'dup_in_batch' END AS status,
        |  cast(CASE WHEN t.kind <> 'direct' AND t.k % 2 = 0 THEN t.k
        |       ELSE f.bf END AS bigint) AS first_doc
        |FROM t JOIN f USING (url_canon)
        |ORDER BY t.doc_id, t.url_canon""".stripMargin,
      memoized = true),

    // Frontier politeness SCHEDULE — the step after frontier
    // construction: per-host fetch plan under crawl-delay. Hosts keyed
    // by urlHost; the per-host cap rides the zero-driver-state
    // BoundedTopM heap (priority = earliest first_doc, url tiebreak);
    // within-host fetch ORDER uses the pack idiom (sorted per-host
    // list + posexplode — the list is ≤ m by the cap, so no window and
    // no unbounded group buffer anywhere); Crawl-delays join as a
    // broadcast per-host dim and planned_ms = seq × delay. The oracle
    // replays cap, order, and arithmetic with a ranked window.
    Gate("frontier_schedule", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val urls = docs.select(
          concat(lit("https://f"), col("doc_id") % 7, lit(".example/page/"),
            col("doc_id") % 40).as("url"),
          col("doc_id"))
        .groupBy(col("url")).agg(min(col("doc_id")).as("first_doc"))
      val hosted = urls.withColumn("host",
        graft.ops.HtmlExprs.urlHost(col("url")))
      val capped = graft.text.BudgetSelect.takeTopPerGroupUniform(
        hosted, col("host"), col("url"), -col("first_doc"), m = 3)
      val robots = docs.select((col("doc_id") % 7).as("i")).distinct()
        .select(concat(lit("f"), col("i"), lit(".example")).as("host"),
          (lit(500) + col("i") * 100).cast("long").as("delay_ms"))
      capped.groupBy(col("host"))
        .agg(sort_array(collect_list(
          struct(col("first_doc"), col("url")))).as("q"))
        .select(col("host"), posexplode(col("q")))
        .select(col("host"), col("pos").as("seq"),
          col("col.url").as("url_canon"),
          col("col.first_doc").as("first_doc"))
        .join(broadcast(robots), Seq("host"))
        .withColumn("planned_ms", col("seq") * col("delay_ms"))
        .orderBy(col("host"), col("seq"))
    },
      // cap, within-host order, and delay arithmetic replayed with a
      // ranked window over the restated URL set
      """WITH u AS (
        |  SELECT 'https://f' || (doc_id % 7) || '.example/page/' ||
        |      (doc_id % 40) AS url,
        |    'f' || (doc_id % 7) || '.example' AS host,
        |    doc_id % 7 AS i,
        |    min(doc_id) AS first_doc
        |  FROM documents GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY host ORDER BY first_doc, url) AS rn FROM u)
        |SELECT host, cast(rn - 1 AS int) AS seq, url AS url_canon,
        |  cast(first_doc AS bigint) AS first_doc,
        |  cast(500 + i * 100 AS bigint) AS delay_ms,
        |  cast((rn - 1) * (500 + i * 100) AS bigint) AS planned_ms
        |FROM r WHERE rn <= 3 ORDER BY host, seq""".stripMargin),

    // Rolling-crawl URL dedup: the standing canonical-URL index after
    // three ordered batch folds PLUS a replayed fold of batch 2 (the
    // watermark guard makes it a no-op). Output = the index itself;
    // the oracle recomputes first-seen batch and first doc from
    // scratch over the synthesis arithmetic, so a fold that rescans,
    // double-counts, or is NOT replay-idempotent cannot match.
    Gate("url_dedup_incremental", Bench, (s, dir) => {
      graft.dedup.UrlSeen.read(s, urlStateFor(s, dir))
        .orderBy(col("url_canon"))
    },
      // from-scratch recompute of the standing index: first_seen_batch =
      // the earliest batch (doc_id % 3 + 1) containing the canonical
      // URL; first_doc = the smallest doc_id within that batch. The
      // replayed fold the gate performs must leave no trace.
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://site' || (doc_id % 25) || '.example/p/' ||
        |      (doc_id % 125) AS url_canon,
        |    doc_id % 3 + 1 AS b
        |  FROM documents),
        |f AS (SELECT url_canon, min(b) AS fb FROM u GROUP BY url_canon)
        |SELECT f.url_canon,
        |  cast(f.fb AS bigint) AS first_seen_batch,
        |  cast(min(u.doc_id) AS bigint) AS first_doc
        |FROM f JOIN u ON u.url_canon = f.url_canon AND u.b = f.fb
        |GROUP BY f.url_canon, f.fb
        |ORDER BY f.url_canon""".stripMargin),

    // Anchor-text extraction — (href, anchor text) pairs, the linking
    // page's description of its target (query-document signal for
    // ranking/retrieval data). The fixture exercises nested markup
    // inside the anchor, entity decode, whitespace collapse, an
    // hrefless anchor, and a script decoy; the oracle restates the
    // pair list (href ⟂ text on chr(2), pairs on chr(1)) from the
    // synthesis arithmetic.
    Gate("anchor_texts", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          (id, "<p>pre</p><a href='https://t.example/" + id +
            "'>click <b>here</b>&amp;now</a>" +
            "<script>var a = '<a href=/evil>no</a>';</script>" +
            "<a href='/rel/" + src + "'>  spaced   text </a>" +
            "<a>no href, no pair</a>")
        })
        .toDF("doc_id", "html")
      pages.select(col("doc_id"),
          graft.ops.HtmlExprs.hrefTexts(col("html")).as("ps"))
        .select(col("doc_id"),
          size(col("ps")).cast("long").as("n_pairs"),
          md5(array_join(transform(col("ps"),
            p => concat(p.getField("href"), lit("\u0002"),
              p.getField("anchor_text"))), "\u0001")).as("pairs_md5"))
        .orderBy(col("doc_id"))
    },
      // the expected (href, anchor text) pair list restated from the
      // synthesis arithmetic: inline markup stripped, the entity decoded,
      // whitespace collapsed, the hrefless anchor and script decoy absent
      """SELECT doc_id,
        |  cast(2 AS bigint) AS n_pairs,
        |  md5('https://t.example/' || doc_id || chr(2) ||
        |      'click here&now' || chr(1) ||
        |      '/rel/' || source || chr(2) || 'spaced text')
        |    AS pairs_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Canonical-URL normalization (codegen kernel) for URL-level crawl
    // dedup: three messy spellings per doc (uppercase host + userinfo +
    // default port + tracking params + fragment; portless-https with
    // duplicate param names; non-http scheme with unsorted params and
    // empty-param tail). The oracle states the expected canonical form
    // directly from the synthesis arithmetic — it does NOT re-implement
    // the normalizer, so a rule regression cannot self-confirm.
    Gate("url_normalize", Bench, (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) => (id, Web.url(id, src)) })
        .toDF("doc_id", "url")
        .select(col("doc_id"), col("url"),
          graft.ops.HtmlExprs.urlNormalize(col("url")).as("url_norm"),
          graft.ops.HtmlExprs.urlHost(col("url")).as("host"))
        .orderBy(col("doc_id"))
    },
      // expected canonical form stated directly from the synthesis
      // arithmetic — the oracle does NOT re-implement the normalizer
      s"""WITH $webCte
         |SELECT doc_id, url, url_norm, host FROM x
         |ORDER BY doc_id""".stripMargin),

    // The composed Common Crawl ingest chain — WARC shard → record
    // explode → HTTP response bodies → HTML text extraction + URL
    // canonicalization — one narrow plan, no shuffle until a downstream
    // operator needs one. The oracle recomputes the end state from the
    // source columns, so a drift ANYWHERE in the chain (record walk,
    // HTTP split, charset decode, extraction, URL rules) surfaces here
    // even if each piece gate still passes its own.
    Gate("web_pipeline", Bench, (s, dir) => {
      graft.ingest.Warc.recordTable(s, syntheticWarc(s, dir),
          col("doc_id"), col("payload"))
        .where(col("warc_type") === "response")
        .select(col("file_id").as("doc_id"),
          graft.ops.HtmlExprs.urlNormalize(col("target_uri")).as("url_norm"),
          graft.ops.HtmlExprs.urlHost(col("target_uri")).as("host"),
          // charset-honoring decode from the HTTP header (here utf-8;
          // CharsetDecodeSpec legs cover latin-1 and garbage charsets)
          graft.ops.HtmlExprs.htmlExtractStats(graft.ops.HtmlExprs
            .charsetDecode(col("http_content_type"), col("body")))
            .as("s"))
        .select(col("doc_id"), col("url_norm"), col("host"),
          length(col("s.txt")).cast("long").as("extract_chars"),
          md5(col("s.txt")).as("extract_md5"),
          col("s.link_ppm").as("link_ppm"))
        .orderBy(col("doc_id"))
    },
      // end state of the composed WARC → HTTP → HTML → URL chain
      s"""WITH $webCte
         |SELECT doc_id, url_norm, host,
         |  cast(length(extract) AS bigint) AS extract_chars,
         |  md5(extract) AS extract_md5,
         |  9 * 1000000 // length(extract) AS link_ppm
         |FROM x ORDER BY doc_id""".stripMargin),

    // MAIN-content extraction (boilerplate REMOVAL, not just tag
    // stripping): pages wrap each doc's text in a nav bar and a
    // link-farm footer, both above the 50% link-density cut — the
    // kernel must drop those blocks whole and keep the h1 + article.
    // The full extract (kept for contrast) proves the dropped text WAS
    // in the page; the oracle recomputes both from the source columns.
    Gate("html_main_text", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, t, src) =>
          (id, Web.htmlWithNav(t, src))
        })
        .toDF("doc_id", "html")
      pages.select(col("doc_id"),
          graft.ops.HtmlExprs.htmlMainText(col("html")).as("main"),
          graft.ops.HtmlExprs.htmlExtract(col("html")).as("full"))
        .select(col("doc_id"),
          length(col("main")).cast("long").as("main_chars"),
          md5(col("main")).as("main_md5"),
          length(col("full")).cast("long").as("full_chars"))
        .orderBy(col("doc_id"))
    },
      // main = h1 + article only; full additionally carries the nav bar
      // and link-farm blocks the kernel must have dropped
      s"""WITH $webCte
         |SELECT doc_id,
         |  cast(length(CASE WHEN coll = '' THEN source
         |    ELSE source || chr(10) || coll END) AS bigint) AS main_chars,
         |  md5(CASE WHEN coll = '' THEN source
         |    ELSE source || chr(10) || coll END) AS main_md5,
         |  cast(length('nav one nav two' || chr(10) ||
         |    CASE WHEN coll = '' THEN source
         |      ELSE source || chr(10) || coll END || chr(10) ||
         |    'more | links | here') AS bigint) AS full_chars
         |FROM x ORDER BY doc_id""".stripMargin),

    // Per-DOMAIN cap — the crawl diversity step "keep the m best pages
    // per host": canonical host (url_host kernel) feeds the uniform
    // top-m-per-group selection, whose groups are DISCOVERED from the
    // data (a crawl cannot enumerate its hosts up front). No per-group
    // ranking window anywhere; the oracle IS that window.
    Gate("domain_top", Bench, (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, t, src) =>
          (id, Web.url(id, src), t)
        })
        .toDF("doc_id", "url", "text")
      val scored = docs.select(col("doc_id"),
        graft.ops.HtmlExprs.urlHost(col("url")).as("host"),
        SelectionGates.qPpm(coalesce(col("text"), lit(""))))
      graft.text.BudgetSelect.takeTopPerGroupUniform(scored, col("host"),
          col("doc_id"), col("q_ppm"), m = 3L)
        .orderBy(col("doc_id"))
    },
      // the per-host ranked window the operator deliberately avoids,
      // over the same synthesized hosts (webCte) and quality formula
      s"""WITH $webCte,
         |t AS (
         |  SELECT doc_id, host,
         |    cast(round(len(regexp_extract_all(t, '[A-Za-z]'))
         |      / greatest(length(t), 1) * 1000000) AS bigint) AS q_ppm
         |  FROM x),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |  ORDER BY q_ppm DESC, doc_id) AS rn FROM t)
         |SELECT doc_id, host, q_ppm FROM r WHERE rn <= 3
         |ORDER BY doc_id""".stripMargin),

    // Fixed-point integer PageRank over the synthesized host link
    // graph — the web-graph quality PRIOR (each doc's host links to a
    // rotated sibling and to one hub host that stays DANGLING, so rank
    // concentration and the dangling-mass contract both exercise). The
    // recurrence is integer-exact (ppb longs, floor divisions), so the
    // oracle replays all 3 iterations bit-for-bit in SQL.
    // the REAL chain into PageRank: page markup → hrefs → resolved +
    // normalized targets → host-level edges (intra-host links drop,
    // the standard host-graph rule — the relative link plants exactly
    // that decoy) → fixed-point integer PageRank. The oracle restates
    // the edge multiset from the synthesis arithmetic and replays all
    // three integer iterations.
    Gate("link_graph_rank", Bench, (s, dir) => {
      val pages = Tables(s, dir, "documents").select(
        concat(lit("https://h"), col("doc_id") % 12, lit(".example/p/"),
          col("doc_id")).as("page"),
        concat(lit("<a href='https://h"), (col("doc_id") + 5) % 12,
          lit(".example/x/"), col("doc_id") % 7, lit("'>out</a>"),
          lit("<a href='/local/"), col("doc_id") % 3,
          lit("'>intra-host decoy</a>")).as("html"))
      val links = pages
        .select(col("page"),
          explode(graft.ops.HtmlExprs.hrefs(col("html"))).as("href"))
        .select(graft.ops.HtmlExprs.urlHost(col("page")).as("src"),
          graft.ops.HtmlExprs.urlHost(graft.ops.HtmlExprs.urlResolve(
            col("page"), col("href"))).as("dst"))
        .where(col("src") =!= col("dst"))
      graft.ops.GraphOps.pageRankFixedPoint(links, col("src"), col("dst"),
          iters = 3)
        .orderBy(col("node"))
    },
      // the integer recurrence replayed bit-for-bit: r0 = R//N, then 3
      // unrolled iterations of base + (17*S)//20 with S = Σ r//outdeg
      // over in-edges (dangling mass drops, per the operator contract)
      // same three-iteration integer replay as host_rank, over the edge
      // multiset the markup implies (absolute cross-host links only; the
      // intra-host decoy self-filters)
      s"""WITH ed AS (
         |  SELECT 'h' || (doc_id % 12) || '.example' AS src,
         |    'h' || ((doc_id + 5) % 12) || '.example' AS dst
         |  FROM documents),
         |$pageRankCtes
         |SELECT node, cast(r AS bigint) AS rank_ppb FROM i3
         |ORDER BY node""".stripMargin),

    Gate("host_rank", Bench, (s, dir) => {
      graft.ops.GraphOps.pageRankFixedPoint(hostEdges(s, dir), col("src"),
          col("dst"), iters = 3)
        .orderBy(col("node"))
    },
      s"""WITH $webCte,
         |$hostEdgesSql,
         |$pageRankCtes
         |SELECT node, cast(r AS bigint) AS rank_ppb FROM i3
         |ORDER BY node""".stripMargin),

    // robots.txt compliance (RFC 9309): per-HOST robots files parse
    // ONCE on the dim side (robots_rules), broadcast, and every URL
    // row evaluates the longest-match allow/disallow decision in
    // codegen. The synthesis exercises the discriminating semantics —
    // a non-matching agent group that must be ignored, a comment to
    // strip, and a Disallow/Allow pair where ONLY longest-match wins
    // (a disallow-first evaluation flips every m2 host's answer). The
    // oracle states the expected flag from the synthesis arithmetic.
    Gate("robots_filter", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) => (id, Web.url(id, src)) })
        .toDF("doc_id", "url")
        .select(col("doc_id"), col("url"),
          graft.ops.HtmlExprs.urlHost(col("url")).as("host"))
      val robots = pages.select(col("host")).distinct()
        .select(col("host"),
          when(col("host").startsWith("www."),
            lit("User-agent: evilbot\nDisallow: /\n\n" +
              "User-agent: *\nDisallow: /src1 # the only live rule"))
          .when(col("host").startsWith("api."),
            lit("User-agent: *\nDisallow: /private\nAllow: /"))
          .otherwise(
            lit("User-agent: *\nDisallow: /pub\nAllow: /pub/"))
          .as("txt"))
        .select(col("host"),
          graft.ops.HtmlExprs.robotsRules(col("txt")).as("rules"))
      pages.join(broadcast(robots), Seq("host"))
        .select(col("doc_id"), col("host"),
          graft.ops.HtmlExprs.robotsAllowed(col("url"), col("rules"))
            .cast("int").as("allowed"))
        .orderBy(col("doc_id"))
    },
      // the expected decision from the synthesis arithmetic: only the
      // www hosts' /src1-prefixed paths are disallowed (the api hosts'
      // Allow / and the files hosts' longest-match Allow /pub/ win)
      s"""WITH $webCte
         |SELECT doc_id, host,
         |  cast(CASE WHEN doc_id % 3 = 0 AND source LIKE 'src1%'
         |    THEN 0 ELSE 1 END AS int) AS allowed
         |FROM x ORDER BY doc_id""".stripMargin),

    // robots.txt politeness metadata — the de-facto extensions a
    // crawler consumes beyond allow/disallow: the applicable group's
    // Crawl-delay (floor milliseconds, fractional seconds supported;
    // NULL when unstated — distinct from an explicit 0) and the
    // file-global Sitemap URLs in document order. A decoy delay in a
    // non-matching agent group must never leak (group scoping), and
    // the delay line sits after the group's rules (rule-block
    // attachment). The oracle restates everything from the synthesis.
    Gate("robots_meta", Bench, (s, dir) => {
      val txt = concat(
        lit("User-agent: evilbot\nCrawl-delay: 99\nDisallow: /\n\n"),
        lit("Sitemap: https://s.example/"), col("source"), lit("/a.xml\n"),
        lit("User-agent: *\nDisallow: /x\n"),
        when(col("doc_id") % 3 === 0,
          concat(lit("Crawl-delay: "), col("doc_id") % 7, lit("."),
            col("doc_id") % 10, lit("\n")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("Sitemap: https://s.example/"), col("doc_id"),
            lit("/b.xml\n")))
          .otherwise(lit("")))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.HtmlExprs.robotsCrawlDelayMs(txt).as("delay_ms"),
          graft.ops.HtmlExprs.robotsSitemaps(txt).as("sm"))
        .select(col("doc_id"), col("delay_ms"),
          size(col("sm")).cast("long").as("n_sitemaps"),
          md5(array_join(col("sm"), "\u0001")).as("sitemaps_md5"))
        .orderBy(col("doc_id"))
    },
      // delay (group-scoped, floor ms), sitemap count, and the
      // document-order sitemap list all restated from the synthesis;
      // NULL delay where the * group states none (the evilbot 99 decoy
      // must never leak through)
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN cast((doc_id % 7) * 1000 + (doc_id % 10) * 100 AS bigint)
        |    ELSE NULL END AS delay_ms,
        |  cast(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS bigint)
        |    AS n_sitemaps,
        |  md5('https://s.example/' || source || '/a.xml' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN chr(1) || 'https://s.example/' || doc_id || '/b.xml'
        |      ELSE '' END) AS sitemaps_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-host politeness BUDGET — the crawl-planning artifact the
    // delay metadata exists for: URL counts per host joined with each
    // host's broadcast robots Crawl-delay (parsed ONCE on the dim
    // side), est. serial crawl time = n_urls × delay (stated delays
    // in www/api hosts, the 1 s politeness default elsewhere). The
    // oracle restates counts, delays, and the product from the
    // synthesis arithmetic.
    Gate("crawl_budget", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) => (id, Web.url(id, src)) })
        .toDF("doc_id", "url")
        .select(col("doc_id"),
          graft.ops.HtmlExprs.urlHost(col("url")).as("host"))
      val robots = pages.select(col("host")).distinct()
        .select(col("host"),
          when(col("host").startsWith("www."),
            lit("User-agent: *\nDisallow: /private\nCrawl-delay: 2"))
          .when(col("host").startsWith("api."),
            lit("User-agent: *\nCrawl-delay: 0.5\nDisallow: /x"))
          .otherwise(lit("User-agent: *\nDisallow: /pub")) // no delay
          .as("txt"))
        .select(col("host"),
          graft.ops.HtmlExprs.robotsCrawlDelayMs(col("txt"))
            .as("delay_ms"))
      pages.groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"))
        .join(broadcast(robots), Seq("host"))
        .select(col("host"), col("n_urls"), col("delay_ms"),
          (col("n_urls") * coalesce(col("delay_ms"), lit(1000L)))
            .as("crawl_ms"))
        .orderBy(col("host"))
    },
      // host URL counts from the webCte host formula; stated delays and
      // the n_urls × delay product restated (1000 ms default elsewhere)
      s"""WITH $webCte,
         |h AS (SELECT host, count(*)::BIGINT AS n_urls
         |  FROM x GROUP BY host)
         |SELECT host, n_urls,
         |  CASE WHEN host LIKE 'www.%' THEN cast(2000 AS bigint)
         |       WHEN host LIKE 'api.%' THEN cast(500 AS bigint)
         |       ELSE NULL END AS delay_ms,
         |  cast(n_urls * CASE WHEN host LIKE 'www.%' THEN 2000
         |       WHEN host LIKE 'api.%' THEN 500 ELSE 1000 END
         |    AS bigint) AS crawl_ms
         |FROM h ORDER BY host""".stripMargin),

    // Sitemap XML parsing — the step after robots_meta's Sitemap URL
    // extraction: the documents themselves become crawl-frontier rows.
    // Synthesis: 4-in-5 docs get a <urlset> (an entity-encoded loc
    // with lastmod, a CDATA loc, a no-loc decoy, and an UNTERMINATED
    // final block that must still parse best-effort); every 5th doc a
    // <sitemapindex> (one well-formed child, a blank-loc decoy, an
    // unterminated child). The oracle restates every surviving entry
    // and position from the arithmetic — the decoys must vanish
    // WITHOUT shifting positions.
    Gate("sitemap_parse", Bench, (s, dir) => {
      val sid = concat(lit("https://s"), col("doc_id") % 20, lit(".example"))
      val xml = when(col("doc_id") % 5 =!= 0, concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>"),
          sid, lit("/page/"), col("doc_id"), lit("?a=1&amp;b=2</loc>"),
          lit("<lastmod>2024-0"), col("doc_id") % 9 + 1,
          lit("-01</lastmod></url>"),
          lit("<url><loc><![CDATA["), sid, lit("/cdata/"), col("doc_id"),
          lit("]]></loc></url>"),
          lit("<url><lastmod>2024-01-01</lastmod></url>"),
          lit("<url><loc>https://tail.example/"), col("doc_id"),
          lit("</loc>")))
        .otherwise(concat(
          lit("<sitemapindex><sitemap><loc>"), sid, lit("/sm-"),
          col("doc_id"), lit(".xml</loc><lastmod>2024-02-02</lastmod>"),
          lit("</sitemap><sitemap><loc> </loc></sitemap>"),
          lit("<sitemap><loc>https://tail.example/idx-"), col("doc_id"),
          lit(".xml</loc>")))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.ops.SitemapExprs.sitemapEntries(xml)))
        .select(col("doc_id"), col("pos"), col("col.loc").as("loc"),
          col("col.lastmod").as("lastmod"),
          col("col.is_index").as("is_index"))
        .orderBy(col("doc_id"), col("pos"))
    },
      // every surviving sitemap entry and its POSITION restated from the
      // synthesis arithmetic (entity decode and CDATA unwrap included);
      // the no-loc / blank-loc decoys and the unterminated-block grace
      // are all pinned by the position sequence
      """WITH d AS (SELECT doc_id FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS pos,
        |    'https://s' || (doc_id % 20) || '.example/page/' || doc_id ||
        |      '?a=1&b=2' AS loc,
        |    '2024-0' || (doc_id % 9 + 1) || '-01' AS lastmod,
        |    false AS is_index
        |  FROM d WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    'https://s' || (doc_id % 20) || '.example/cdata/' || doc_id,
        |    NULL, false FROM d WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'https://tail.example/' || doc_id, NULL, false
        |  FROM d WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, 0,
        |    'https://s' || (doc_id % 20) || '.example/sm-' || doc_id ||
        |      '.xml', '2024-02-02', true FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, 'https://tail.example/idx-' || doc_id || '.xml',
        |    NULL, true FROM d WHERE doc_id % 5 = 0)
        |SELECT doc_id, cast(pos AS int) AS pos, loc, lastmod, is_index
        |FROM r ORDER BY doc_id, pos""".stripMargin),

    Gate("gopher_stats", Bench, (s, dir) => {
      val framed = concat(coalesce(col("text"), lit("")),
        lit("\n• item "), col("source"),
        lit("\ntrailing dots..."),
        when(col("doc_id") % 3 === 0, concat(lit("\n# tag …")))
          .otherwise(lit("")))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextExprs.gopherStats(framed).as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy(col("doc_id"))
    },
      s"""WITH f AS (
         |  SELECT doc_id,
         |    coalesce(text, '') || chr(10) || '• item ' || source ||
         |    chr(10) || 'trailing dots...' ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '# tag …'
         |      ELSE '' END AS t
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, t,
         |    ${gopherListsSql("t")}
         |  FROM f),
         |c AS (
         |  SELECT doc_id,
         |    ${gopherCountersSql("t")}
         |  FROM w)
         |SELECT *, cast(${gopherPassSql()} AS int) AS pass
         |FROM c ORDER BY doc_id""".stripMargin),

    // Batched MODEL-INFERENCE plumbing (BatchScore): the classifier
    // itself is the STUB HashScorer (the JVM ships no model runtime),
    // deliberately chosen oracle-expressible so the WHOLE plumbing —
    // batching, per-executor singleton, null/empty bypass, positional
    // re-zip — verifies end to end: a batch-boundary or zip bug would
    // shift scores off their documents. batchSize=37 never divides the
    // partition evenly, so ragged final batches are always exercised.
    Gate("model_score", Bench, (s, dir) => {
      graft.text.BatchScore.score(s, Tables(s, dir, "documents"),
          col("doc_id"), col("text"), batchSize = 37)
        .select(col("id").as("doc_id"), col("score_ppm"))
        .orderBy(col("doc_id"))
    },
      // the stub scorer's exact arithmetic per document, independent of
      // any batching: first 6 md5 hex digits mod 1e6, 0 for null/empty
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR text = '' THEN cast(0 AS bigint)
        |    ELSE ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000000
        |    END AS score_ppm
        |FROM documents ORDER BY doc_id""".stripMargin),

    // A REAL trained scorer through the SAME inference plumbing: a
    // hashing-trick linear model, closed-form integer-exact training
    // (smoothed presence-probability-difference weights) over
    // Gopher-pass labels, scoring as the mean present-bucket weight
    // centered at 500000. md5 bucketing keeps the whole pipeline
    // DuckDB-restatable: the oracle re-derives the labels, retrains
    // the weights, and re-scores every document from scratch — a
    // drifted weight, a tokenizer mismatch, or a trunc-vs-floor
    // division slip all surface as value mismatches.
    Gate("model_score_trained", Bench, (s, dir) => {
      graft.text.BatchScore.score(s, Tables(s, dir, "documents"),
          col("doc_id"), col("text"), scorer = linearModelFor(s, dir),
          batchSize = 37)
        .select(col("id").as("doc_id"), col("score_ppm"))
        .orderBy(col("doc_id"))
    },
      // the ENTIRE train-then-score pipeline replayed from scratch:
      // Gopher-pass labels over the raw text (the gopher_stats
      // arithmetic, unframed), md5-bucketed distinct-token presence
      // features, smoothed probability-difference weights, mean-weight
      // scoring. All divisions are nonneg-trunc or flooring `//`,
      // matching the engine's Math.floorDiv
      s"""WITH $trainedScoreCtes
        |SELECT d.doc_id,
        |  cast(CASE WHEN d.text IS NULL OR d.text = '' THEN 0
        |       WHEN sc.k IS NULL THEN 500000
        |       ELSE greatest(0, least(1000000, 500000 + sc.s // sc.k))
        |       END AS bigint) AS score_ppm
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // …and the trained score DRIVING a selection: per-domain top-3 by
    // learned quality through the zero-driver-state BoundedTopM heap —
    // the r15 per-domain-cap flagship re-keyed on a REAL model's
    // output instead of a heuristic. The oracle retrains, re-scores,
    // and replays the cap with a ranked window.
    Gate("domain_top_trained", Bench, (s, dir) => {
      val scored = graft.text.BatchScore.score(s,
          Tables(s, dir, "documents"), col("doc_id"), col("text"),
          scorer = linearModelFor(s, dir), batchSize = 37)
        .select(col("id").as("doc_id"), col("score_ppm"))
        .withColumn("host",
          concat(lit("site"), col("doc_id") % 25, lit(".example")))
      graft.text.BudgetSelect.takeTopPerGroupUniform(scored, col("host"),
          col("doc_id"), col("score_ppm"), m = 3)
        .select(col("host"), col("doc_id"), col("score_ppm"))
        .orderBy(col("host"), col("doc_id"))
    },
      // retrain + re-score + ranked-window replay of the learned-quality
      // domain cap (score DESC, doc_id ASC — BoundedTopM's tie rule)
      s"""WITH $trainedScoreCtes,
        |sc2 AS (
        |  SELECT d.doc_id,
        |    cast(CASE WHEN d.text IS NULL OR d.text = '' THEN 0
        |         WHEN sc.k IS NULL THEN 500000
        |         ELSE greatest(0, least(1000000, 500000 + sc.s // sc.k))
        |         END AS bigint) AS score_ppm,
        |    'site' || (d.doc_id % 25) || '.example' AS host
        |  FROM documents d LEFT JOIN sc USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY host ORDER BY score_ppm DESC, doc_id) AS rn
        |  FROM sc2)
        |SELECT host, doc_id, score_ppm FROM r WHERE rn <= 3
        |ORDER BY host, doc_id""".stripMargin),

    // TOKEN-budgeted inference batching (BatchScore.scoreByTokens):
    // batches flush at 97 total whitespace tokens (never divides the
    // corpus evenly → ragged batches throughout) and docs truncate to
    // an 11-token model context, so MOST documents exercise the
    // truncation path. The oracle recomputes the truncated text, its
    // md5 score, the clamped token count, and the truncation flag from
    // the raw text with DuckDB list ops — a packing bug that re-zips
    // scores off their documents, an off-by-one in the slice, or a
    // truncation that leaks past the context all surface as value
    // mismatches.
    Gate("model_score_tokens", Bench, (s, dir) => {
      graft.text.BatchScore.scoreByTokens(s, Tables(s, dir, "documents"),
          col("doc_id"), col("text"), TextOps.tokens(col("text")),
          maxBatchTokens = 97, maxDocTokens = 11)
        .select(col("id").as("doc_id"), col("score_ppm"),
          col("n_tokens"), col("truncated"))
        .orderBy(col("doc_id"))
    },
      // the token-budget batching contract restated from the raw text:
      // same whitespace split as the Spark tokenizer, truncation = the
      // single-space re-join of the first 11 tokens, score = the stub
      // md5 arithmetic over the text the model actually saw
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |      w -> len(w) > 0) AS l
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL OR text = '' THEN cast(0 AS bigint)
        |    WHEN len(l) > 11 THEN ('0x' || substr(md5(
        |      array_to_string(l[1:11], ' ')), 1, 6))::BIGINT % 1000000
        |    ELSE ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000000
        |    END AS score_ppm,
        |  cast(CASE WHEN text IS NULL THEN 0
        |    ELSE least(len(l), 11) END AS bigint) AS n_tokens,
        |  cast(CASE WHEN text IS NOT NULL AND len(l) > 11 THEN 1 ELSE 0
        |    END AS bigint) AS truncated
        |FROM tk ORDER BY doc_id""".stripMargin),

    // HTML document METADATA — the signals text extraction deliberately
    // drops but curation wants: title (entity-decoded, ws-normalized),
    // the html lang attribute (a language-id prior), the rel=canonical
    // href (the page's own dedup key), and the meta description. The
    // synthesis rotates each signal ABSENT (doc_id % 4) and mixes
    // quoting styles, so a presence/absence or attribute-parsing bug
    // cannot hide; the oracle restates each field from the columns.
    Gate("html_meta", Bench, (s, dir) => {
      import s.implicits._
      val pages = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, lang, src) =>
          val langAttr = if (id % 4 == 0) "" else " lang=\"" + lang + "\""
          val canon =
            if (id % 4 == 1) ""
            else "<link rel=canonical href='https://c.example/" + src +
              "/" + id + "'/>"
          val desc =
            if (id % 4 == 2) ""
            else "<meta name=\"description\" content=\"doc " + id +
              " of " + src + "\"/>"
          (id, "<html" + langAttr + "><head><title> " + src +
            "  page &amp; " + id + " </title>" + canon + desc +
            "</head><body><p>x</p></body></html>")
        })
        .toDF("doc_id", "html")
      pages.select(col("doc_id"),
          graft.ops.HtmlExprs.htmlMeta(col("html")).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.lang_attr").as("lang_attr"),
          col("m.canonical").as("canonical"),
          col("m.description").as("description"))
        .orderBy(col("doc_id"))
    },
      // each metadata field restated from the synthesis columns, with
      // the % 4 absence rotation
      """SELECT doc_id,
        |  source || ' page & ' || doc_id AS title,
        |  CASE WHEN doc_id % 4 = 0 THEN NULL ELSE lang END AS lang_attr,
        |  CASE WHEN doc_id % 4 = 1 THEN NULL
        |    ELSE 'https://c.example/' || source || '/' || doc_id
        |    END AS canonical,
        |  CASE WHEN doc_id % 4 = 2 THEN NULL
        |    ELSE 'doc ' || doc_id || ' of ' || source END AS description
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
