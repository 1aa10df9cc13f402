package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextOps

import Tier._
import GateFixtures._

/** Exact, near-dup and incremental document dedup gates: exact canonical,
  * MinHash/n-gram/SimHash pairs, persistent MinHash indexes, Bloom
  * incremental dedup, span/line/paragraph dedup and decontamination. */
object DedupGates {

  /** Distinct word 2-gram shingles + per-doc sizes (mirrors
    * Dedup.shingles' default n=2, incl. the short-doc whole-text
    * shingle) — the exact side of the MinHash invariant oracles. */
  private val sh2Ctes: String =
    s"$toksCte,\n" +
    s"""sh2 AS (
      |  SELECT doc_id, unnest(${ngramsSql("l", 2)}) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id)""".stripMargin

  /** Exact cross-side pairs (batch %5=0 × standing %5≠0) at 2-gram
    * Jaccard ≥ 0.8 — the oracle for every persistent-MinHash-index query
    * path, however the index was assembled. */
  private val crossIndexPairSql: String =
    s"""WITH $sh2Ctes,
       |common AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
       |  FROM sh2 x JOIN sh2 y ON x.s = y.s
       |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  cast(round(n_common / cast(ca.n_sh + cb.n_sh - n_common AS double)
       |    * 1000000) AS bigint) AS jacc_ppm
       |FROM common
       |JOIN sizes ca ON ca.doc_id = id_a
       |JOIN sizes cb ON cb.doc_id = id_b
       |WHERE n_common / cast(ca.n_sh + cb.n_sh - n_common AS double) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact incremental dedup of today's batch against the standing
    * corpus (doc_id % 3 != 0), `bloom` prefiltering the standing side.
    * The corpus has no exact dups, so the batch is new docs
    * (doc_id % 3 == 0) PLUS re-keyed copies of some existing docs
    * (% 7 == 0, id + 100000) — the match path is exercised, not
    * vacuously green. */
  private def incrementalDedupGate(name: String, bloom: Boolean): Gate =
    Gate(name, Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val batch = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val existing = docs.where(col("doc_id") % 3 =!= 0)
      (if (bloom) Dedup.exactAgainstExistingBloom(batch, existing,
          col("doc_id"), col("text"), expectedBatchDocs = 1L << 12, fpp = 0.01)
        else Dedup.exactAgainstExisting(batch, existing, col("doc_id"),
          col("text")))
        .orderBy(col("doc_id"))
    },
      """WITH b AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |e AS (
        |  SELECT md5(text) AS h, min(doc_id) AS dup_of FROM documents
        |  WHERE doc_id % 3 <> 0 GROUP BY 1)
        |SELECT b.doc_id, e.dup_of,
        |  cast(e.dup_of IS NULL AS int) AS is_new
        |FROM b LEFT JOIN e ON md5(b.text) IS NOT DISTINCT FROM e.h
        |ORDER BY b.doc_id""".stripMargin)

  /** Flags training docs (doc_id % 17 != 0) sharing any 5-gram with the
    * benchmark set (% 17 == 0), broadcast or, `bloom`, through the
    * bloom prefilter. The oracle checks 5-gram overlap over the same
    * normalized token stream as the dedup oracles; docs shorter than
    * the window shingle to their whole text, so short exact copies are
    * still caught. */
  private def decontaminateGate(name: String, bloom: Boolean): Gate =
    Gate(name, Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val (train, bench) =
        (docs.where(col("doc_id") % 17 =!= 0), docs.where(col("doc_id") % 17 === 0))
      (if (bloom) graft.text.Decontaminate.flagBloom(train, bench,
          col("doc_id"), col("text"), n = 5, minHits = 1,
          expectedBenchGrams = 1L << 16, fpp = 0.01)
        else graft.text.Decontaminate.flag(train, bench,
          col("doc_id"), col("text"), n = 5, minHits = 1))
        .orderBy(col("doc_id"))
    },
      s"""WITH $toksCte,
         |gl AS (
         |  SELECT doc_id, ${ngramsSql("l", 5)} AS gs
         |  FROM toks),
         |g5 AS (SELECT doc_id, unnest(gs) AS g FROM gl),
         |bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 17 = 0),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_hits FROM g5 JOIN bench USING (g)
         |  WHERE doc_id % 17 <> 0 GROUP BY doc_id)
         |SELECT gl.doc_id, len(gs) AS n_grams,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  cast(coalesce(h.n_hits, 0) >= 1 AS int) AS contaminated
         |FROM gl LEFT JOIN hits h USING (doc_id)
         |WHERE gl.doc_id % 17 <> 0
         |ORDER BY gl.doc_id""".stripMargin)

  /** text_dup_remove's framing as CTE `f (doc_id, t)`: every doc gets
    * the same boilerplate footer plus its source, planting cross-doc
    * duplicate spans. (No line may open with `||`: the fragment is
    * interpolated into stripMargin'd SQL, which would eat it.) */
  private[queries] val spanFramedSql: String =
    """f AS (
      |  SELECT doc_id,
      |    text || ' boilerplate navigation footer menu copyright of ' ||
      |      source AS t
      |  FROM documents)""".stripMargin

  /** Dedup.removeDuplicatedSpans (n = 5) restated as CTEs over
    * `from (doc_id, <text>)`: per-token normalized 5-gram keys (chr(1)
    * joiner mirrors the engine's \u0001 — both alphabets are [a-z0-9]*
    * so the key spaces are bijective), the min-doc keeper of every key
    * two or more docs share, and `ret (doc_id, t, l, ps, keep)` — the
    * raw tokens, the covered positions (NULL when untouched) and the
    * kept positions. */
  private[queries] def spanRemovalCtes(from: String, text: String): String =
    raw"""nm AS (
         |  SELECT doc_id, $text AS t,
         |    list_filter(string_split_regex($text, '[ \t\n\x0b\f\r]+'),
         |                w -> len(w) > 0) AS l
         |  FROM $from),
         |nm2 AS (
         |  SELECT doc_id, t, l,
         |    list_transform(l,
         |      w -> regexp_replace(lower(w), '[^a-z0-9]', '', 'g')) AS nl
         |  FROM nm),
         |occ AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(l) - 3)) AS pos,
         |    unnest(list_transform(range(1, len(l) - 3),
         |      i -> array_to_string(nl[i:i+4], chr(1)))) AS k
         |  FROM nm2 WHERE len(l) >= 5),
         |dup AS (
         |  SELECT k, min(doc_id) AS keeper
         |  FROM occ GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT o.doc_id, unnest(range(o.pos, o.pos + 5)) AS p
         |    FROM occ o JOIN dup d USING (k)
         |    WHERE o.doc_id <> d.keeper)),
         |covl AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id),
         |ret AS (
         |  SELECT n.doc_id, n.t, n.l, c.ps,
         |    CASE WHEN c.ps IS NULL THEN NULL
         |         ELSE list_filter(range(1, len(n.l) + 1),
         |                          q -> NOT list_contains(c.ps, q))
         |    END AS keep
         |  FROM nm2 n LEFT JOIN covl c USING (doc_id))""".stripMargin

  /** Connected components of the 3-gram-Jaccard pair graph (from
    * `ngramPairCtes`) by recursive min-label closure, ending in CTE
    * `canon (doc_id, canonical_id)`; follows `WITH RECURSIVE`. A label
    * only propagates to larger-id nodes, and the component minimum is
    * smaller than every member, so min(label) per node is exact. */
  private[queries] val ngramClosureCtes: String =
    s"""$ngramPairCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM njpairs
       |  UNION ALL SELECT id_b, id_a FROM njpairs),
       |comp AS (
       |  SELECT doc_id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS doc_id, c.label
       |  FROM comp c JOIN edges e ON e.src = c.doc_id
       |  WHERE c.label < e.dst),
       |canon AS (
       |  SELECT doc_id, cast(min(label) AS bigint) AS canonical_id
       |  FROM comp GROUP BY doc_id)""".stripMargin

  val gates: Seq[Gate] = Seq(

    // ── Deduplication ──────────────────────────────────────────────────
    Gate("dedup_exact", Baseline, (s, dir) => {
      Dedup.exactCanonical(Tables(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS n_copies
        |FROM documents ORDER BY doc_id""".stripMargin),

    // k = 36 / bands = 12 (r stays 3): the library default (24, 8)
    // carries a per-pair band-miss of (1−0.8³)⁸ ≈ 0.32% — ~1 expected
    // miss in sf0.1's 256-pair population, the standing matrix
    // exception since r10. Four more bands at the same row width cut
    // the miss to 0.488¹² ≈ 0.018% (~0.05 expected pairs corpus-wide),
    // clearing the exact oracle deterministically at every fixture SF
    // without changing band selectivity (candidate volume per band is
    // still the r = 3 collision curve).
    Gate("dedup_minhash", Baseline, (s, dir) => {
      Dedup.minhashPairs(Tables(s, dir, "documents"), col("doc_id"), col("text"),
          k = 36, bands = 12, threshold = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    },
      // invariant oracle for an approximate family: MinHash banding at
      // (k=36, b=12, J≥0.8) has verified full recall at EVERY fixture SF
      // (the exact-Jaccard tail then makes the output EQUAL to the exact
      // all-pairs computation, which DuckDB recomputes from scratch
      // here). Deterministic: fixed data + seedless xxhash.
      // The gate ran the library-default (24, 8) through r19, whose
      // (1−0.8³)⁸ ≈ 0.32% per-pair band-miss carried ~1 expected miss in
      // sf0.1's 256-pair population (the standing 254-of-256 matrix
      // exception); twelve r=3 bands cut that to 0.488¹² ≈ 0.018% — ~0.05
      // expected misses corpus-wide, measured 256/256. The
      // guaranteed-recall invariants live in the planted gates
      // (dedup_simhash_recall, text_embed_dedup_recall, *_exactdups).
      s"""WITH $sh2Ctes,
         |common AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
         |  FROM sh2 x JOIN sh2 y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(n_common / cast(ca.n_sh + cb.n_sh - n_common AS double), 6)
         |    AS jaccard
         |FROM common
         |JOIN sizes ca ON ca.doc_id = id_a
         |JOIN sizes cb ON cb.doc_id = id_b
         |WHERE n_common / cast(ca.n_sh + cb.n_sh - n_common AS double) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_ngram", Baseline, (s, dir) => {
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), col("doc_id"),
          col("text"), n = 3, maxDf = 100, threshold = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    },
      // inverted-index n-gram Jaccard over the RARE-shingle space (shingles
      // hotter than maxDf are dropped from intersection AND union) —
      // mirrors the engine algorithm; CTE chain shared with dedup_clusters
      s"""WITH $ngramPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM njpairs
         |ORDER BY id_a, id_b""".stripMargin),

    // the curation form of cluster dedup: keep each near-dup cluster's
    // BEST member by (quality DESC, id ASC) — not its min-id label —
    // via the zero-driver-state bounded top-1 per cluster
    // (Dedup.keepBestPerCluster). The oracle replays the recursive
    // closure, the alpha-ratio ppm, and the per-cluster argmax window.
    Gate("dedup_keep_best", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, maxDf = 100, threshold = 0.8)
      val canon = Dedup.canonicalFromPairs(docs.select(col("doc_id")),
        col("doc_id"), pairs)
      val scored = docs.join(canon, Seq("doc_id"))
        .select(col("doc_id"), col("canonical_id"),
          SelectionGates.qPpm(coalesce(col("text"), lit(""))))
        .localCheckpoint(true) // keepBest scans twice (agg + semi-join)
      Dedup.keepBestPerCluster(scored, col("canonical_id"),
          col("doc_id"), col("q_ppm"))
        .orderBy(col("doc_id"))
    },
      // the cluster closure again, then each cluster's argmax by
      // (alpha-ratio ppm DESC, doc_id) — the window the operator
      // deliberately avoids
      s"""WITH RECURSIVE $ngramClosureCtes,
         |q AS (
         |  SELECT d.doc_id, c.canonical_id,
         |    cast(round(len(regexp_extract_all(coalesce(d.text, ''),
         |        '[A-Za-z]'))
         |      / greatest(length(coalesce(d.text, '')), 1) * 1000000)
         |      AS bigint) AS q_ppm
         |  FROM documents d JOIN canon c USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY canonical_id
         |  ORDER BY q_ppm DESC, doc_id) AS rn FROM q)
         |SELECT doc_id, canonical_id, q_ppm FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),

    // pairwise near-dups → connected-component clusters: every doc gets
    // the min doc_id reachable through the ngram-Jaccard pair graph
    Gate("dedup_clusters", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, maxDf = 100, threshold = 0.8)
      // large-star/small-star converges in O(log n) rounds regardless
      // of pair-chain diameter, matching the oracle's exact recursive
      // closure; the default maxIters is a safety valve, not a
      // diameter bound
      Dedup.canonicalFromPairs(docs.select(col("doc_id")), col("doc_id"),
          pairs)
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE $ngramClosureCtes
         |SELECT doc_id, canonical_id FROM canon ORDER BY doc_id""".stripMargin),

    // incremental ingestion: today's batch judged against the standing
    // corpus — only the batch is annotated, the existing side reduces to
    // (hash, min id) and never rewrites — and the SAME dedup with the
    // batch-hash bloom prefiltering the standing side map-side:
    // identical output (no false negatives; false positives die in the
    // join), held to the same oracle
    incrementalDedupGate("dedup_incremental", bloom = false),
    incrementalDedupGate("dedup_incremental_bloom", bloom = true),

    // persistent-index near-dedup (rows-only: xxhash signatures aren't
    // DuckDB-expressible; equivalence to minhashPairsAcross is
    // spec-verified): build the standing corpus's LSH index ONCE PER
    // JVM+dir (memoized — repeated invocations in one session must not
    // leak temp dirs/catalog tables or re-pay the build), query the
    // arriving batch against the bucketed tables
    Gate("dedup_index_query", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val path = mhIndexFor(s, dir)
      Dedup.queryMinhashIndex(docs.where(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), path, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1e6, 0).cast("long").as("jacc_ppm"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // same exact side restricted to (batch %5=0) × (indexed %5<>0) —
      // the persistent-index query path held to the from-scratch answer,
      // and the two-installment (build + append) index held to the SAME
      // answer: cross-engine proof that append ≡ rebuild
      crossIndexPairSql,
      memoized = true),

    // the index-append lifecycle under the dedup_index_query oracle: an
    // index grown in two installments must answer the batch exactly like
    // the from-scratch DuckDB computation — cross-engine proof that
    // append ≡ rebuild
    Gate("dedup_index_append", Oracle, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.queryMinhashIndex(docs.where(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), mhAppendIndexFor(s, dir),
          threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1e6, 0).cast("long").as("jacc_ppm"))
        .orderBy(col("id_a"), col("id_b"))
    },
      crossIndexPairSql),

    // the index COMPACTION lifecycle under the same oracle: an index
    // grown in two installments then compacted (fresh path, no corpus
    // scan) must still answer the batch exactly like the from-scratch
    // DuckDB computation — closes the build → append → compact loop
    Gate("dedup_index_compacted", Oracle, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.queryMinhashIndex(docs.where(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), mhCompactIndexFor(s, dir),
          threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1e6, 0).cast("long").as("jacc_ppm"))
        .orderBy(col("id_a"), col("id_b"))
    },
      crossIndexPairSql),


    // benchmark decontamination: training docs sharing any 5-gram with
    // the (broadcast) eval set are flagged before serialization — and
    // the SAME decontamination through the bloom-filter prefilter:
    // identical output by construction (the bloom only ADMITS
    // candidates, the exact join removes its false positives), gated
    // against the same oracle SQL — the proof that the
    // too-big-to-broadcast-benchmark scale path stays exact
    decontaminateGate("decontaminate", bloom = false),
    decontaminateGate("decontaminate_bloom", bloom = true),


    // C4-style line-level boilerplate filter: lines occurring more than
    // twice across the corpus are dropped, surviving lines keep order.
    // The synthetic docs are single-line, so the gate frames each with a
    // corpus-wide header and a per-source footer (the oracle builds the
    // same frame): the header repeats 500x, footers ~50x — both must be
    // stripped everywhere while each unique content line survives.
    Gate("text_line_dedup", Bench, (s, dir) => {
      val framed = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("=== site header ===\n"), col("text"),
          lit("\nfooter for "), col("source")).as("t"))
      Dedup.dedupLines(framed, col("doc_id"), col("t"), maxOccurrences = 2)
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_lines"), col("n_removed"))
        .orderBy(col("doc_id"))
    },
      // coalesce mirrors the engine: dedupLines maps a NULL framed string
      // to one "" line (every document survives), and the gate's concat
      // nulls out whenever text/source is null — without the coalesce the
      // oracle's string_split(NULL) unnests to zero rows and the doc
      // vanishes from one side only
      """WITH t AS (
        |  SELECT doc_id, string_split(
        |    coalesce('=== site header ===' || chr(10) || text || chr(10) ||
        |      'footer for ' || source, ''), chr(10)) AS ls
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM t),
        |l2 AS (SELECT doc_id, pos, ls[cast(pos AS int)] AS line FROM l),
        |c AS (SELECT line, count(*) AS n FROM l2 GROUP BY line)
        |SELECT l2.doc_id,
        |  md5(coalesce(array_to_string(
        |    coalesce(list(l2.line ORDER BY l2.pos) FILTER (WHERE c.n <= 2), []),
        |    chr(10)), '')) AS kept_md5,
        |  count(*) AS n_lines,
        |  cast(sum(cast(c.n > 2 AS int)) AS bigint) AS n_removed
        |FROM l2 JOIN c USING (line)
        |GROUP BY l2.doc_id
        |ORDER BY doc_id""".stripMargin),

    // PARAGRAPH-level boilerplate dedup (the Dolma policy): same
    // machinery as the C4 line filter, blocks split on blank lines.
    // The frame plants a corpus-wide boilerplate paragraph (500×) and
    // per-source footers (~50×) — both must drop everywhere while each
    // unique content paragraph survives in order.
    Gate("text_paragraph_dedup", Bench, (s, dir) => {
      val framed = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared boilerplate paragraph here\n\n"), col("text"),
          lit("\n\nfooter for "), col("source")).as("t"))
      Dedup.dedupLines(framed, col("doc_id"), col("t"), maxOccurrences = 2,
          delimiter = "\n\n", joiner = "\n\n")
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_lines").as("n_blocks"), col("n_removed"))
        .orderBy(col("doc_id"))
    },
      // the text_line_dedup contract over blank-line blocks: same null
      // coalescing, same count/md5 shape, separators chr(10)||chr(10)
      """WITH t AS (
        |  SELECT doc_id, string_split(
        |    coalesce('shared boilerplate paragraph here' || chr(10) ||
        |      chr(10) || text || chr(10) || chr(10) || 'footer for ' ||
        |      source, ''), chr(10) || chr(10)) AS ls
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM t),
        |l2 AS (SELECT doc_id, pos, ls[cast(pos AS int)] AS line FROM l),
        |c AS (SELECT line, count(*) AS n FROM l2 GROUP BY line)
        |SELECT l2.doc_id,
        |  -- coalesce AFTER array_to_string too: array_to_string([]) is
        |  -- NULL in DuckDB while the engine yields md5('')
        |  md5(coalesce(array_to_string(
        |    coalesce(list(l2.line ORDER BY l2.pos) FILTER (WHERE c.n <= 2), []),
        |    chr(10) || chr(10)), '')) AS kept_md5,
        |  count(*) AS n_blocks,
        |  cast(sum(cast(c.n > 2 AS int)) AS bigint) AS n_removed
        |FROM l2 JOIN c USING (line)
        |GROUP BY l2.doc_id
        |ORDER BY doc_id""".stripMargin),

    // cross-doc duplicated-span audit: the exact-substring-dedup signal
    // (5-word spans shared with other documents, as ppm of the doc's
    // distinct spans)
    Gate("text_dup_spans", Bench, (s, dir) => {
      Dedup.duplicatedSpans(Tables(s, dir, "documents"), col("doc_id"),
          col("text"), n = 5)
        .orderBy(col("doc_id"))
    },
      // same normalized 5-gram space as the decontaminate oracles; df
      // counts documents (per-doc distinct spans)
      s"""WITH $toksCte,
         |gl AS (
         |  SELECT doc_id, ${ngramsSql("l", 5)} AS gs
         |  FROM toks),
         |g5 AS (SELECT doc_id, unnest(gs) AS g FROM gl),
         |df AS (SELECT g, count(*) AS n FROM g5 GROUP BY g)
         |SELECT doc_id, count(*) AS n_spans,
         |  cast(sum(cast(df.n >= 2 AS int)) AS bigint) AS n_dup,
         |  cast(round(sum(cast(df.n >= 2 AS int))
         |    / cast(count(*) AS double) * 1000000) AS bigint) AS dup_ppm
         |FROM g5 JOIN df USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // WITHIN-document repeated-span removal — the self-dedup sibling
    // of text_dup_remove, pure narrow kernel (no shuffle at all): each
    // doc's later occurrences of an already-seen 5-token span drop by
    // position coverage; the frame plants a guaranteed within-doc
    // repeat in every row. The oracle replays first-occurrence-by-
    // position, coverage union, and the byte-exact retained text.
    Gate("text_self_dedup", Bench, (s, dir) => {
      val framed = concat(coalesce(col("text"), lit("")),
        lit(" intra1 intra2 intra3 intra4 intra5 mid" +
          " intra1 intra2 intra3 intra4 intra5"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextExprs.dropRepeatedSpans(framed, 5).as("r"))
        .select(col("doc_id"), md5(col("r.text_clean")).as("clean_md5"),
          col("r.n_tokens").as("n_tokens"),
          col("r.n_removed").as("n_removed"))
        .orderBy(col("doc_id"))
    },
      // full replay of the within-doc removal: per-position normalized
      // 5-gram keys, first occurrence by position keeps, later
      // occurrences cover out, byte-exact retained-text md5
      """WITH f AS (
        |  SELECT doc_id, coalesce(text, '') ||
        |    ' intra1 intra2 intra3 intra4 intra5 mid' ||
        |    ' intra1 intra2 intra3 intra4 intra5' AS t
        |  FROM documents),
        |nm AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split_regex(t, '[ \t\n\x0b\f\r]+'),
        |                x -> len(x) > 0) AS l
        |  FROM f),
        |n2 AS (
        |  SELECT doc_id, t, l,
        |    list_transform(l,
        |      x -> regexp_replace(lower(x), '[^a-z0-9]', '', 'g')) AS nl
        |  FROM nm),
        |occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 3)) AS pos,
        |    unnest(list_transform(range(1, len(l) - 3),
        |      i -> array_to_string(nl[i:i+4], chr(1)))) AS k
        |  FROM n2 WHERE len(l) >= 5),
        |fo AS (SELECT doc_id, k, min(pos) AS fp FROM occ GROUP BY doc_id, k),
        |cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT o.doc_id, unnest(range(o.pos, o.pos + 5)) AS p
        |    FROM occ o JOIN fo USING (doc_id, k)
        |    WHERE o.pos > fo.fp)),
        |covl AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id),
        |ret AS (
        |  SELECT n2.doc_id, n2.t, n2.l, c.ps,
        |    CASE WHEN c.ps IS NULL THEN NULL
        |      ELSE list_filter(range(1, len(n2.l) + 1),
        |                       q -> NOT list_contains(c.ps, q)) END AS keep
        |  FROM n2 LEFT JOIN covl c USING (doc_id))
        |SELECT doc_id,
        |  md5(CASE WHEN ps IS NULL THEN t
        |       ELSE coalesce(
        |         array_to_string(list_transform(keep, q -> l[q]), ' '), '')
        |       END) AS clean_md5,
        |  cast(len(l) AS bigint) AS n_tokens,
        |  cast(CASE WHEN ps IS NULL THEN 0
        |            ELSE len(l) - len(keep) END AS bigint) AS n_removed
        |FROM ret ORDER BY doc_id""".stripMargin),

    // the REWRITE half of the audit above: drop every cross-doc
    // duplicated 5-token span (keep-first), re-materializing the text.
    // The frame plants a guaranteed viral span (the boilerplate run,
    // 500×) and per-source spans (the "... of srcN" tails, ~50×) on top
    // of whatever natural dups the corpus has; the oracle recomputes the
    // whole rewrite from scratch — keeper choice, position-coverage
    // union, raw-token re-join — so clean_md5 pins byte-exact retained
    // text, not just counts.
    Gate("text_dup_remove", Bench, (s, dir) => {
      val framed = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" boilerplate navigation footer menu copyright of "),
          col("source")).as("t"))
      Dedup.removeDuplicatedSpans(framed, col("doc_id"), col("t"), n = 5)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy(col("doc_id"))
    },
      // full from-scratch recompute of the span-removal rewrite: same
      // framed text as the gate, per-token normalized 5-gram keys (chr(1)
      // joiner mirrors the engine's \u0001 — both alphabets are [a-z0-9]*
      // so the key spaces are bijective), document-frequency keeper, and
      // byte-exact retained-text md5 (untouched docs hash their ORIGINAL
      // framed text; touched docs hash the space-rejoined raw tokens)
      s"""WITH $spanFramedSql,
         |${spanRemovalCtes("f", "t")}
         |SELECT doc_id,
         |  md5(CASE WHEN ps IS NULL THEN t
         |       -- array_to_string([]) is NULL in DuckDB, '' in Spark
         |       ELSE coalesce(
         |         array_to_string(list_transform(keep, q -> l[q]), ' '), '')
         |       END) AS clean_md5,
         |  cast(coalesce(len(l), 0) AS bigint) AS n_tokens,
         |  cast(CASE WHEN ps IS NULL THEN 0
         |            ELSE len(l) - len(keep) END AS bigint) AS n_removed
         |FROM ret ORDER BY doc_id""".stripMargin),

    // asymmetric near-dup: a document quoted inside a larger one shows
    // high containment where Jaccard stays low — the dedup signal for
    // concatenated/wrapped training documents
    Gate("dedup_containment", Bench, (s, dir) => {
      Dedup.ngramContainmentPairs(Tables(s, dir, "documents"),
          col("doc_id"), col("text"), n = 3, maxDf = 100, threshold = 0.8)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy(col("doc_id"), col("container_id"))
    },
      // exact containment over the rare 3-gram space: both orientations of
      // the pruned inverted-index common counts (mirrors ngramPairCtes'
      // shingle/rare/common semantics)
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id, unnest(${ngramsSql("l", 3)}) AS s
         |  FROM toks),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
         |pruned AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
         |common AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
         |  FROM pruned x JOIN pruned y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |oriented AS (
         |  SELECT id_a AS doc_id, id_b AS container_id,
         |         n_common / cast(ca.n_sh AS double) AS c
         |  FROM common JOIN sizes ca ON ca.doc_id = id_a
         |  UNION ALL
         |  SELECT id_b, id_a, n_common / cast(cb.n_sh AS double)
         |  FROM common JOIN sizes cb ON cb.doc_id = id_b)
         |SELECT doc_id, container_id, round(c, 6) AS containment
         |FROM oriented WHERE c >= 0.8
         |ORDER BY doc_id, container_id""".stripMargin),

    Gate("dedup_simhash", Baseline, (s, dir) => {
      // layout PINNED to single 8-bit chunks: this synthetic corpus is
      // mutually similar (p ≈ 0.85), where single chunks measured 4.7 s
      // vs 9.9 s at sf0.1 — and a pinned layout keeps the benched plan
      // identical run-to-run (the sampled auto-chooser sits near its
      // decision boundary on this corpus, and a layout flip between
      // bench runs reads as a 2× drift). Production default stays
      // auto-measured (wideTables = None); both layouts are exhaustive
      // at radius 7, so the pin can never change the rows.
      //
      // Output is the gate's INVARIANT SUMMARY (hash-class pair sets
      // aren't SQL-recomputable): the full production pair computation
      // runs — radius_ok aggregates over every pair — and the
      // cross-engine check is the text-equal pair count, guaranteed
      // found (identical text → identical signature → hamming 0,
      // pigeonhole exhaustive). Eight planted copies keep the count
      // non-vacuous at SFs whose corpus has no natural exact dups.
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // spread BEFORE the simhash kernel: the union of two one-row-
      // group scans is 2 effective tasks, so the token-shingle kernel
      // pass ran as two ~0.5 s tasks (hammingPairs itself can't spread
      // — its generic input may carry media payloads that must never
      // cross an exchange; here the spread moves source TEXT)
      val planted = Dedup.spreadScan(
        docs.unionByName(docs.where(col("doc_id") < 8)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))),
        col("doc_id"))
      val pairs = Dedup.simhashPairs(planted, col("doc_id"), col("text"),
        maxHamming = 7, wideTables = Some(false))
      val keys = planted.select(col("doc_id"), md5(col("text")).as("__h"))
      // shuffle-hash-pinned: the key frame is one md5 row per DOCUMENT —
      // corpus-scale, never broadcast; hash-building the slim digests
      // avoids sorting the pair frame (the rareShingleCommonCounts
      // discipline)
      pairs
        .join(keys.select(col("doc_id").as("id_a"), col("__h").as("__ha"))
          .hint("shuffle_hash"), Seq("id_a"))
        .join(keys.select(col("doc_id").as("id_b"), col("__h").as("__hb"))
          .hint("shuffle_hash"), Seq("id_b"))
        .agg(
          sum((col("__ha") === col("__hb")).cast("int"))
            .as("n_exactdup_pairs"),
          coalesce(max(col("hamming")) <= 7, lit(false)).cast("int")
            .as("radius_ok"))
    },
      // text-equal pairs (8 planted copies keep the population non-empty
      // at every SF) are guaranteed found by the simhash pigeonhole —
      // identical text, identical signature, hamming 0
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 8)
        |SELECT cast(count(*) AS bigint) AS n_exactdup_pairs,
        |  1 AS radius_ok
        |FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id"""
        .stripMargin),

    // whole-doc + rolling fingerprints at production parameters, held
    // to the class invariant SQL can check: equal texts MUST
    // fingerprint equal under both families (the raw 64-bit values are
    // hash-class; the class STRUCTURE is text_fingerprint_classes).
    // Eight planted copies keep the checked class population non-empty
    // at every SF; violations are counted over the full corpus.
    Gate("text_fingerprint", Baseline, (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // spread the one-row-group union so the rolling-hash kernel pass
      // runs wide (the dedup_simhash discipline)
      val planted = Dedup.spreadScan(
        docs.unionByName(docs.where(col("doc_id") < 8)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))),
        col("doc_id"))
      // ONE kernel pass: the frame feeds the doc count and both sides
      // of the violation join — unmaterialized, the rolling-hash
      // kernel would run three times (measured +0.5 s at sf0.1)
      val fps = planted.select(col("doc_id"), md5(col("text")).as("__h"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.rollingFingerprint(col("text")).as("rolling_fp"))
        .localCheckpoint(true)
      // merge-pinned self-join: the fingerprint frame is one row per
      // DOCUMENT — corpus-scale, never broadcast; both sides reuse one
      // exchange
      val sameText = fps.select(col("__h"), col("doc_id").as("id_a"),
          col("fp").as("fp_a"), col("rolling_fp").as("rfp_a"))
        .hint("merge")
        .join(fps.select(col("__h"), col("doc_id").as("id_b"),
          col("fp").as("fp_b"), col("rolling_fp").as("rfp_b")), Seq("__h"))
        .where(col("id_a") < col("id_b"))
      fps.agg(count(lit(1)).as("n_docs")).crossJoin(
        sameText.agg(
          coalesce(sum((col("fp_a") =!= col("fp_b")).cast("int")), lit(0))
            .as("n_fp_violations"),
          coalesce(sum((col("rfp_a") =!= col("rfp_b")).cast("int")), lit(0))
            .as("n_rolling_violations")))
    },
      // equal texts must fingerprint equal under both families
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 8)
        |SELECT cast(count(*) AS bigint) AS n_docs,
        |  cast(0 AS bigint) AS n_fp_violations,
        |  cast(0 AS bigint) AS n_rolling_violations
        |FROM d""".stripMargin),

    // ── Invariant gates for the hash-based approximate families ────────
    // Each xxhash/LSH-based operator whose output DuckDB cannot recompute
    // is held to a DuckDB-checkable EXACT invariant (VERDICT r4 item 3):
    // either an exhaustive-parameter variant whose output provably equals
    // an exact computation, or the operator's recall on a subpopulation
    // where recall 1.0 is guaranteed by construction (exact duplicates
    // collide on every hash). These run in Verify only — the bench keeps
    // the production-parameter twins.

    // simhash recall on exact token-set duplicates: identical distinct-
    // token sets → identical signatures → hamming 0, and the pigeonhole
    // tables are exhaustive at radius 7, so EVERY same-set pair must
    // surface. The oracle recomputes the same-set pairs from scratch.
    Gate("dedup_simhash_recall", Oracle, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      // md5 of the canonical set rendering, not the raw string: the
      // equality join ships 16-byte digests instead of whole token lists
      val sets = docs.select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(
          TextOps.tokens(TextOps.normalized(col("text"))))), "|")).as("key"))
      Dedup.simhashPairs(docs, col("doc_id"), col("text"),
          maxHamming = 7, wideTables = Some(false))
        .join(sets.select(col("doc_id").as("id_a"), col("key").as("key_a")),
          Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("key").as("key_b")),
          Seq("id_b"))
        .where(col("key_a") === col("key_b"))
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $toksCte,
         |k AS (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list_distinct(l)), '|') AS key
         |  FROM toks)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, cast(0 AS int) AS hamming
         |FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    // fingerprint equality classes must match the normalized-text
    // equality classes (xxhash64 is injective on this corpus unless a
    // 64-bit collision appears — which this gate would catch)
    Gate("text_fingerprint_classes", Oracle, (s, dir) => {
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val g = f.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
        .withColumnRenamed("fp", "gfp")
      // null-safe for the same reason as curation_pipeline above
      f.join(g.hint("merge"), col("fp") <=> col("gfp"))
        .select(col("doc_id"), col("canonical_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
      s"""WITH n AS (
        |  SELECT doc_id, ${normTextSql("text")} AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY nt) AS canonical_id,
        |  count(*) OVER (PARTITION BY nt) AS n_copies
        |FROM n ORDER BY doc_id""".stripMargin),
  )
}
