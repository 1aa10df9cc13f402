package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextOps

import Tier._
import GateFixtures._

/** Text-analysis gates: tokens, quality, language id, keywords, NFC
  * cleaning, redaction, chunking, BPE training/encoding, LM scoring
  * and the composed curation/training-prep pipelines. */
object TextGates {

  /** The bpe_train oracle: replay [[TextOps.trainBpeMerges]] round by
    * round in DuckDB SQL. Each round's CTE block recomputes the
    * weighted adjacent-pair counts over the current word
    * tokenizations, takes the (count desc, pair asc) argmax among
    * pairs with weighted count ≥ 2, and applies the merge with greedy
    * leftmost non-overlap — a hit position i conflicts only with i±1,
    * so the greedy picks are exactly the even offsets within each run
    * of consecutive hit positions (gaps-and-islands over i − rn). The
    * vocab cutoff mirrors the trainer's (count desc, word asc,
    * LIMIT maxVocabWords; words ≤ 1024 code points). */
  private def bpeTrainOracle(numMerges: Int, maxVocabWords: Int): String = {
    val rounds = (0 until numMerges).map { r =>
      s"""p$r AS (
         |  SELECT l[i] AS a, l[i+1] AS b, sum(n) AS c
         |  FROM (SELECT w, n, l, unnest(range(1, len(l))) AS i FROM s$r)
         |  GROUP BY a, b HAVING sum(n) >= 2),
         |b$r AS (SELECT a, b FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |h$r AS (
         |  SELECT q.w, q.n, q.i,
         |    CASE WHEN q.l[q.i] = (SELECT a FROM b$r)
         |      AND q.l[q.i+1] = (SELECT b FROM b$r) THEN 1 ELSE 0 END AS hit
         |  FROM (SELECT w, n, l, unnest(range(1, len(l)+1)) AS i
         |        FROM s$r) q),
         |sel$r AS (
         |  SELECT w, i FROM (
         |    SELECT w, i,
         |      row_number() OVER (PARTITION BY w, i - rn ORDER BY i) - 1
         |        AS off
         |    FROM (SELECT w, i,
         |            row_number() OVER (PARTITION BY w ORDER BY i) AS rn
         |          FROM h$r WHERE hit = 1))
         |  WHERE off % 2 = 0),
         |s${r + 1} AS (
         |  SELECT w, n, list(tok ORDER BY i) AS l FROM (
         |    SELECT q.w, q.n, q.i,
         |      CASE WHEN s1.i IS NOT NULL THEN q.l[q.i] || q.l[q.i + 1]
         |        ELSE q.l[q.i] END AS tok
         |    FROM (SELECT w, n, l, unnest(range(1, len(l)+1)) AS i
         |          FROM s$r) q
         |    LEFT JOIN sel$r s1 ON s1.w = q.w AND s1.i = q.i
         |    LEFT JOIN sel$r s2 ON s2.w = q.w AND s2.i = q.i - 1
         |    WHERE s2.i IS NULL)
         |  GROUP BY w, n)""".stripMargin
    }
    val out = (0 until numMerges).map(r =>
      s"SELECT cast($r AS bigint) AS merge_rank, " +
        s"(SELECT a FROM b$r) AS lhs, (SELECT b FROM b$r) AS rhs")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")
    s"""WITH $toksCte,
       |wt AS (SELECT unnest(l) AS w FROM toks),
       |vocab AS (
       |  SELECT w, cast(count(*) AS bigint) AS n FROM wt
       |  WHERE len(w) <= 1024
       |  GROUP BY w ORDER BY n DESC, w LIMIT $maxVocabWords),
       |s0 AS (SELECT w, n, regexp_extract_all(w, '.') AS l FROM vocab),
       |${rounds.mkString(",\n")}$out""".stripMargin
  }

  /** Shared tokenize-and-chunk CTEs (window 64, stride 64, partial tail
    * kept — mirrors TextOps.tokenChunks): used by the chunk_tokens and
    * pack_examples oracles so the chunking rule cannot drift between
    * them. */
  private val chunkCtes: String =
    """t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
      |                w -> len(w) > 0) AS l
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang,
      |    unnest(range(1, 1 + 64 * cast(ceil(greatest(len(l) - 64, 0) / 64.0) AS int) + 1, 64)) AS s, l
      |  FROM t)""".stripMargin

  /** Sequential packing of 64-token chunks into 256-token bins per
    * lang, restated over a CTE `c (doc_id, lang, s, l)` of chunk starts
    * `s` in token lists `l`: the per-(lang, bin) chunk and token totals
    * of chunk_tokens → Packing.packBins. */
  private val packedBinsSql =
    """ch AS (
      |  SELECT doc_id, lang, cast((s - 1) // 64 AS int) AS chunk_idx,
      |         len(l[s:s+63]) AS n_tokens
      |  FROM c),
      |b AS (
      |  SELECT lang, n_tokens,
      |    cast(floor(coalesce(sum(n_tokens) OVER (
      |      PARTITION BY lang ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
      |      AS bigint) AS bin_id
      |  FROM ch)
      |SELECT lang, bin_id, count(*) AS n_chunks,
      |       cast(sum(n_tokens) AS bigint) AS total_tokens
      |FROM b GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin

  val gates: Seq[Gate] = Seq(

    // per-document keyword extraction: tf · N/df (linear idf — exact
    // integer ratio, bit-identical across engines) ranked per doc.
    // N comes from the memoized per-dir count: an inline docs.count()
    // would schedule a full corpus scan inside every (benched)
    // invocation — in production N is a manifest constant, not a
    // per-query recount
    Gate("doc_keywords", Bench, (s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.text.TextOps.topTerms(docs, col("doc_id"), col("text"),
          n = tableCountFor(s, dir, "documents"), topK = 3)
        .select(col("doc_id"), col("rank").as("rnk"), col("token"),
          col("score_ppm"))
        .orderBy(col("doc_id"), col("rnk"))
    },
      // linear-idf keyword extraction: the score is two correctly-rounded
      // IEEE ops over exact integers — reproduces bit-identically here
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(l) AS token FROM toks),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.token,
         |    cast(round(tf.tf * n.n / df.df * 1000000) AS bigint) AS score_ppm
         |  FROM tf JOIN df USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score_ppm DESC, token) AS rnk
         |  FROM s)
         |SELECT doc_id, rnk, token, score_ppm FROM r
         |WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin),

    // corpus vocabulary (tokenizer-training / idf table): top tokens by
    // total frequency with document frequency, via the two-stage
    // (token, doc) → token aggregation that never holds per-token sets
    Gate("vocab_topk", Bench, (s, dir) => {
      graft.text.TextOps.termStats(Tables(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("tf").desc, col("token"))
        .limit(100)
    },
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(l) AS token FROM toks),
         |g AS (SELECT token, doc_id, count(*) AS c FROM t GROUP BY 1, 2),
         |v AS (SELECT token, cast(sum(c) AS bigint) AS tf,
         |        count(*) AS df FROM g GROUP BY 1)
         |SELECT token, tf, df FROM v
         |ORDER BY tf DESC, token LIMIT 100""".stripMargin),

    // intra-document repetition: duplicate bigram/trigram fraction of
    // the normalized token stream (ppm) — the Gopher-style quality
    // threshold for boilerplate loops and degenerate text; per-row
    // kernel counts, no shuffle
    Gate("text_repetition", Bench, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(TextOps.normalized(col("text")))).as("n_tokens"),
          TextOps.repetitionPpm(col("text"), 2).as("dup2_ppm"),
          TextOps.repetitionPpm(col("text"), 3).as("dup3_ppm"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $toksCte,
         |r AS (
         |  SELECT doc_id, len(l) AS n_tokens,
         |    CASE WHEN len(l) < 2 THEN 1 ELSE len(l) - 1 END AS t2,
         |    len(${ngramsSql("l", 2)}) AS d2,
         |    CASE WHEN len(l) < 3 THEN 1 ELSE len(l) - 2 END AS t3,
         |    len(${ngramsSql("l", 3)}) AS d3
         |  FROM toks)
         |SELECT doc_id, n_tokens,
         |  cast(round((1 - d2 / cast(t2 AS double)) * 1000000) AS bigint) AS dup2_ppm,
         |  cast(round((1 - d3 / cast(t3 AS double)) * 1000000) AS bigint) AS dup3_ppm
         |FROM r ORDER BY doc_id""".stripMargin),

    // unicode hygiene before any hashing/dedup: NFC composition + strip
    // of control/zero-width chars over a checked-in fixture of NFD,
    // angstrom-sign, zero-width and control-char cases (native kernel —
    // composition differences must not survive to the dedup hashes)
    Gate("text_nfc_clean", Oracle, (s, _) => {
      s.read
        .schema("id INT, text STRING")
        .option("sep", "|").option("header", "false")
        // the DuckDB oracle reads this fixture with quote='' — pin the
        // Spark parser to match, or a future fixture row containing a
        // double-quote would parse differently per engine and fail the
        // gate on a parser asymmetry instead of a kernel regression
        .option("quote", "\u0000")
        .csv(s"${graft.Fixtures.dir}/unicode.csv")
        .select(col("id"), TextOps.nfcClean(col("text")).as("clean"),
          length(col("text")).as("n_in"),
          length(TextOps.nfcClean(col("text"))).as("n_out"))
        .orderBy(col("id"))
    },
      // strip Cc (except tab/newline/cr) and zero-width code points, THEN
      // NFC-compose — mirrors TextKernels.nfcClean exactly (strip-first is
      // what makes the kernel idempotent; see its scaladoc)
      s"""WITH src AS (
        |  SELECT id, text, regexp_replace(text,
        |    '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}\\x{200B}-\\x{200D}\\x{FEFF}]',
        |    '', 'g') AS st
        |  FROM read_csv('${graft.Fixtures.dir}/unicode.csv', delim='|',
        |    header=false, quote='',
        |    columns={'id':'INTEGER','text':'VARCHAR'})),
        |cleaned AS (
        |  SELECT id, text, nfc_normalize(st) AS clean
        |  FROM src)
        |SELECT id, clean, length(text) AS n_in, length(clean) AS n_out
        |FROM cleaned ORDER BY id""".stripMargin),

    // the end-to-end training-data preparation flow as ONE declarative
    // plan: unicode hygiene → exact-dedup survivors → benchmark
    // decontamination → context-window chunking → token-budget packing.
    // Every stage is an operator gated above on its own; this proves the
    // composition stays a single Catalyst plan with no materialization
    // barriers between stages
    Gate("training_pipeline", Bench, (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.text.{Decontaminate, Packing}
      // composition discipline: ONE annotated corpus chain. Dedup is a
      // window annotation (not a semi-join back onto the corpus) and
      // decontamination left-joins the slim hit frame, so the 100 TB
      // corpus is scanned for the chain, the gram stream, and nothing
      // else — semi-join-per-stage composition re-expands the corpus
      // plan at every stage (measured 7 parquet scans vs 3 here)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.nfcClean(col("text")).as("text"))
      val bench = docs.where(col("doc_id") % 17 === 0)
      val train = docs.where(col("doc_id") % 17 =!= 0)
      val hits = Decontaminate.hitCounts(train, bench,
        col("doc_id"), col("text"), n = 5)
      val kept = train
        .withColumn("__canon",
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .join(hits, Seq("doc_id"), "left")
        .where(col("doc_id") === col("__canon") && col("n_hits").isNull)
      val chunks = kept
        .select(col("doc_id"), col("lang"),
          posexplode(TextOps.tokenChunks(col("text"), window = 64, stride = 64)))
        .select(col("doc_id"), col("lang"),
          col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"))
      Packing.packBins(chunks, col("lang"),
          struct(col("doc_id"), col("chunk_idx")), col("n_tokens"),
          budget = 256)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    },
      // self-contained mirror of the composed stages (the per-stage CTEs
      // above run over `documents` directly, so they are restated here over
      // the NFC-cleaned, filtered frames; formulas identical to the
      // text_nfc_clean / dedup_exact / decontaminate / chunk_tokens /
      // pack_examples oracles)
      raw"""WITH d AS (
        |  SELECT doc_id, lang, nfc_normalize(regexp_replace(text,
        |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g')) AS text
        |  FROM documents),
        |tr AS (SELECT * FROM d WHERE doc_id % 17 <> 0),
        |surv AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
        |    FROM tr) WHERE doc_id = canon),
        |toks AS (
        |  SELECT doc_id, ${normTokensSql("text")} AS l
        |  FROM d),
        |gl AS (
        |  SELECT doc_id, ${ngramsSql("l", 5)} AS gs
        |  FROM toks),
        |g5 AS (SELECT doc_id, unnest(gs) AS g FROM gl),
        |bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 17 = 0),
        |contaminated AS (
        |  SELECT DISTINCT g5.doc_id FROM g5 JOIN bench USING (g)
        |  WHERE g5.doc_id % 17 <> 0),
        |kept AS (
        |  SELECT s.doc_id, s.lang, s.text FROM surv s
        |  WHERE s.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |                w -> len(w) > 0) AS l
        |  FROM kept),
        |c AS (
        |  SELECT doc_id, lang,
        |    unnest(range(1, 1 + 64 * cast(ceil(greatest(len(l) - 64, 0) / 64.0) AS int) + 1, 64)) AS s, l
        |  FROM t),
        |""".stripMargin + packedBinsSql),

    // PII scrub before serialization: md5 of the redacted text proves
    // the transform byte-identical against the oracle running the same
    // patterns; the count audits how much was scrubbed
    Gate("text_redact", Oracle, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextOps.redact(col("text"))).as("redacted_md5"),
          TextOps.redactionCount(col("text")).as("n_redacted"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |  + len(regexp_extract_all(text, '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS n_redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // chunk → fixed-token-budget bin assignment (sequential packing):
    // the example-shaping step between chunking and serialization
    Gate("pack_examples", Bench, (s, dir) => {
      import graft.text.{Packing, TextOps}
      val chunks = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(TextOps.tokenChunks(col("text"), window = 64, stride = 64)))
        .select(col("doc_id"), col("lang"),
          col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"))
      Packing.packBins(chunks, col("lang"),
          struct(col("doc_id"), col("chunk_idx")), col("n_tokens"),
          budget = 256)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    },
      s"WITH $chunkCtes,\n$packedBinsSql"),

    // ── Text analysis ──────────────────────────────────────────────────
    Gate("text_tokens", Oracle, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          size(TextOps.bpeishTokens(col("text"))).as("n_bpeish"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0)) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("text_quality", Baseline, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityStruct(col("text")).as("q"))
        .select(col("doc_id"), col("q.stopword_ratio"), col("q.alpha_ratio"),
          col("q.mean_token_len"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> len(w) > 0) AS lt,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0) AS ot,
        |    text FROM documents)
        |SELECT doc_id,
        |  len(list_filter(lt, w -> list_contains(
        |    ['the','a','of','and','to','in','is','that','it','for',
        |     'on','was','as','with','be','by','at','this','are','or'], w)))
        |    / greatest(len(lt), 1) AS stopword_ratio,
        |  len(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1) AS alpha_ratio,
        |  list_sum(list_transform(ot, w -> cast(len(w) AS bigint)))
        |    / cast(greatest(len(ot), 1) AS double) AS mean_token_len
        |FROM t ORDER BY doc_id""".stripMargin),

    Gate("text_langid", Oracle, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
      // mirrors TextOps.langId exactly: per-language stopword hit counts,
      // argmax with lexicographically-last tie-break, CJK ratio override
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> len(w) > 0) AS lt
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, u.lang AS lang,
        |    len(list_filter(lt, w -> list_contains(u.words, w))) AS score
        |  FROM t, unnest([
        |    {'lang': 'en', 'words': ['the','a','of','and','to','in','is','that','it','for','on','was','as','with','be','by','at','this','are','or']},
        |    {'lang': 'de', 'words': ['der','die','das','und','ist','nicht','ein','zu','mit','den','von','für','auf','im','sich']},
        |    {'lang': 'es', 'words': ['el','la','de','que','y','en','un','ser','se','no','por','con','para','los','una']},
        |    {'lang': 'fr', 'words': ['le','la','de','et','un','que','pour','dans','ce','pas','au','sur','les','des','est']}
        |  ]) AS x(u)),
        |best AS (
        |  SELECT doc_id, lang, score FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) = 1),
        |cjk AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]'))
        |      / greatest(length(text), 1) AS r
        |  FROM documents)
        |SELECT b.doc_id,
        |  CASE WHEN c.r > 0.2 THEN 'cjk'
        |       WHEN b.score > 0 THEN b.lang
        |       ELSE 'und' END AS lang_pred
        |FROM best b JOIN cjk c ON b.doc_id = c.doc_id
        |ORDER BY b.doc_id""".stripMargin),

    // context-window chunking (window 64, stride 64) — the shaping step
    // before training-example packing; one row per chunk
    Gate("chunk_tokens", Bench, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokenChunks(col("text"), window = 64, stride = 64)))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("chunk_len"),
          array_join(col("col"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      s"""WITH $chunkCtes
        |SELECT doc_id, cast((s - 1) // 64 AS int) AS chunk_idx,
        |  len(l[s:s+63]) AS chunk_len,
        |  array_to_string(l[s:s+63], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // Composite curation pipeline: exact-dedup survivors → quality gate →
    // token statistics. The shape every training-data prep job takes;
    // one declarative plan, no materialization between stages.
    Gate("curation_pipeline", Bench, (s, dir) => {
      // canonical via aggregate+join, not a hash window — a viral exact
      // duplicate would funnel its whole copy set into one window task
      // (the Dedup.exactCanonical argument, inlined here to keep the
      // text column flowing through the one shuffle)
      val docs = Tables(s, dir, "documents")
      val h = docs.withColumn("__h", md5(col("text")))
      val canon = h.groupBy(col("__h"))
        .agg(min(col("doc_id")).as("canonical_id"))
        .withColumnRenamed("__h", "__gh")
      // null-safe join: null-text docs keep their (single) group instead
      // of silently dropping — Dedup.exactCanonical's contract
      h.join(canon.hint("merge"), col("__h") <=> col("__gh"))
        .drop("__h", "__gh")
        .where(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("text"),
          TextOps.qualityStruct(col("text")).as("q"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .where(col("q.alpha_ratio") > 0.5 && col("n_tokens") >= 30)
        .select(col("doc_id"), col("n_tokens"),
          col("q.stopword_ratio").as("stopword_ratio"),
          col("q.mean_token_len").as("mean_token_len"))
        .orderBy(col("doc_id"))
    },
      """WITH survivors AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        |    FROM documents)
        |  WHERE doc_id = canonical_id),
        |stats AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0)) AS n_tokens,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> list_contains(
        |      ['the','a','of','and','to','in','is','that','it','for',
        |       'on','was','as','with','be','by','at','this','are','or'], w)))
        |      / greatest(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |                                 w -> len(w) > 0)), 1) AS stopword_ratio,
        |    len(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1) AS alpha_ratio,
        |    list_sum(list_transform(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |                                        w -> len(w) > 0),
        |                            w -> cast(len(w) AS bigint)))
        |      / cast(greatest(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |                                      w -> len(w) > 0)), 1) AS double)
        |      AS mean_token_len
        |  FROM survivors)
        |SELECT doc_id, n_tokens, stopword_ratio, mean_token_len
        |FROM stats WHERE alpha_ratio > 0.5 AND n_tokens >= 30
        |ORDER BY doc_id""".stripMargin),

    // corpus-LM typicality (integer-exact perplexity-filter stand-in):
    // unigram model trained on the corpus itself, add-one smoothed,
    // per-doc mean token ppm + rare-token count
    Gate("text_lm_score", Bench, (s, dir) => {
      TextOps.lmTypicality(Tables(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
      // unigram LM with add-one smoothing, all-integer arithmetic (the
      // scaled division and the sums are exact, so the hash compare is
      // immune to libm and reduction-order differences)
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(l) AS token FROM toks),
         |c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
         |nv AS (SELECT sum(c) AS n_corpus, count(*) AS v_size FROM c),
         |sc AS (
         |  SELECT t.doc_id,
         |    (c.c + 1) * 1000000 // (nv.n_corpus + nv.v_size) AS tok_ppm,
         |    CASE WHEN c.c < 2 THEN 1 ELSE 0 END AS is_rare
         |  FROM t JOIN c USING (token), nv)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |  cast(sum(is_rare) AS bigint) AS rare_tokens,
         |  cast(sum(tok_ppm) // count(*) AS bigint) AS mean_tok_ppm
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BPE merge-step statistics: top adjacent character pairs inside
    // normalized tokens — the first counting pass of tokenizer training
    Gate("bpe_pairs", Bench, (s, dir) => {
      TextOps.bpePairStats(Tables(s, dir, "documents"), col("text"))
    },
      s"""WITH $toksCte,
         |wt AS (SELECT unnest(l) AS w FROM toks),
         |p AS (
         |  SELECT substr(w, cast(i AS int), 2) AS pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i
         |        FROM wt WHERE len(w) >= 2))
         |SELECT pair, cast(count(*) AS bigint) AS n
         |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 100""".stripMargin),

    // BPE encode with ZERO merges degenerates to a code-point split —
    // per-doc token count must equal the summed character count of the
    // normalized tokens, which DuckDB computes exactly
    Gate("bpe_encode_nomerge", Oracle, (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.bpeTokenCount(col("text"), Nil).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))
    },
      // zero merges = code-point split: count parity is exact (normalized
      // tokens are pure [a-z0-9], so code points = DuckDB len characters)
      s"""WITH $toksCte
         |SELECT doc_id,
         |  cast(coalesce(list_aggregate(list_transform(l, w -> len(w)),
         |    'sum'), 0) AS bigint) AS n_bpe
         |FROM toks ORDER BY doc_id""".stripMargin),

    // full train+encode at production parameters: 50 corpus-trained
    // merges applied to every document. The merge table is data-derived
    // (not SQL-recomputable), so the gate pins the machine-checkable
    // invariants instead — lossless roundtrip (concatenating a word's
    // subword tokens reproduces the word, for ANY table) and the count
    // bounds (merges only ever shrink, one-token-per-word floor) — plus
    // the word/char counts DuckDB verifies exactly. BpeSpec holds the
    // merge loop itself to hand-computed examples.
    // the TRAINING loop itself, at small vocab: four corpus-trained
    // merge rounds (top-200 word table), each replayed MOVE FOR MOVE
    // by the oracle — DuckDB recomputes the weighted pair counts,
    // takes the same (count desc, pair asc) argmax, applies the merge
    // with the same greedy leftmost non-overlap (even offsets within
    // runs of consecutive hit positions), and recounts — so a
    // tie-break, weighting, or merge-application divergence in the
    // trainer cannot hide. The retrain-in-SQL discipline of
    // model_score_trained, applied to the tokenizer.
    Gate("bpe_train", Bench, (s, dir) => {
      import s.implicits._
      TextOps.trainBpeMerges(Tables(s, dir, "documents"), col("text"),
          numMerges = 4, maxVocabWords = 200)
        .zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy(col("merge_rank"))
    },
      // full merge-round replay: the same vocab cutoff, the same
      // weighted pair counts, the same argmax tie-break, the same greedy
      // leftmost merge application, four rounds chained as CTEs
      bpeTrainOracle(numMerges = 4, maxVocabWords = 200)),

    Gate("bpe_encode", Bench, (s, dir) => {
      val merges = bpeMergesFor(s, dir)
      val toks = TextOps.tokens(TextOps.normalized(col("text")))
      val bpe = TextOps.bpeTokens(col("text"), merges)
      // spread the under-split scan: the BPE kernel pass measured as
      // two 0.7 s single-task stages (the orderBy sampler re-executes
      // the narrow chain) — Dedup.spreadScan is a no-op at corpus scale
      Dedup.spreadScan(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          size(toks).cast("long").as("n_words"),
          TextOps.bpeTokenCount(col("text"), Nil).cast("long").as("n_chars"),
          when(array_join(bpe, "") === array_join(toks, ""), 1)
            .otherwise(0).as("ok_roundtrip"),
          when(size(bpe).between(size(toks),
            TextOps.bpeTokenCount(col("text"), Nil)), 1)
            .otherwise(0).as("ok_bounds"))
        .orderBy(col("doc_id"))
    },
      // the merge table is data-derived, so DuckDB verifies the exact
      // word/char counts and the engine-computed invariant flags must be
      // all-ones (roundtrip losslessness + count bounds hold for ANY
      // merge table — a kernel bug, not a table choice, breaks them)
      s"""WITH $toksCte
         |SELECT doc_id,
         |  cast(len(l) AS bigint) AS n_words,
         |  cast(coalesce(list_aggregate(list_transform(l, w -> len(w)),
         |    'sum'), 0) AS bigint) AS n_chars,
         |  cast(1 AS int) AS ok_roundtrip,
         |  cast(1 AS int) AS ok_bounds
         |FROM toks ORDER BY doc_id""".stripMargin),

    // the tokenizer's operational seam: the trained table round-trips
    // through the generation-versioned artifact (GenState — train,
    // ship, load) and the loaded table must tokenize EVERY document
    // identically to the in-memory one, with the table itself
    // byte-identical in rank order. The oracle restates the exact word
    // counts and the two invariant flags.
    Gate("bpe_encode_persisted", Bench, (s, dir) => {
      val merges = bpeMergesFor(s, dir)
      val path = java.nio.file.Files
        .createTempDirectory("graft_bpe_artifact").toString
      TextOps.saveBpeMerges(s, merges, path)
      val loaded = TextOps.loadBpeMerges(s, path)
      val toks = TextOps.tokens(TextOps.normalized(col("text")))
      val a = TextOps.bpeTokens(col("text"), merges)
      val b = TextOps.bpeTokens(col("text"), loaded)
      // spread: the bpe_encode rationale (two tables' worth of BPE
      // kernel work on one task otherwise)
      Dedup.spreadScan(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          size(toks).cast("long").as("n_words"),
          when(a === b, 1).otherwise(0).as("ok_identical"),
          lit(if (loaded == merges) 1 else 0).as("ok_table"))
        .orderBy(col("doc_id"))
    },
      // persisted-artifact roundtrip: exact word counts plus the two
      // engine-computed identity flags, which must be all-ones for ANY
      // trained table (a storage or rank-order bug breaks them)
      s"""WITH $toksCte
         |SELECT doc_id,
         |  cast(len(l) AS bigint) AS n_words,
         |  cast(1 AS int) AS ok_identical,
         |  cast(1 AS int) AS ok_table
         |FROM toks ORDER BY doc_id""".stripMargin),

    // Rule-based sentence segmentation — the chunk-boundary prior for
    // context packing, under a deterministic cross-engine contract
    // (boundary = [.!?]+ then ASCII ws; punctuation stays left; ws
    // drops; edges trim; empties vanish — abbreviation handling is
    // model territory, not claimed). The synthesis frames each doc
    // with known sentences plus a punctuation run and a mid-text
    // ellipsis; the oracle re-derives the segmentation with the
    // marker-insertion regex and compares counts + the joined md5.
    Gate("text_sentences", Bench, (s, dir) => {
      val framed = concat(lit("A one. B two!? "),
        coalesce(col("text"), lit("")), lit(" ... C three? D"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextExprs.sentences(framed).as("ss"))
        .select(col("doc_id"),
          size(col("ss")).cast("long").as("n_sentences"),
          md5(array_join(col("ss"), "\u0001")).as("sents_md5"))
        .orderBy(col("doc_id"))
    },
      // the same segmentation re-derived with the marker-insertion regex
      // (punct-run + ASCII-ws → punct + marker; split; trim; drop empty)
      """WITH f AS (
        |  SELECT doc_id,
        |    'A one. B two!? ' || coalesce(text, '') || ' ... C three? D'
        |      AS t
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, list_filter(list_transform(
        |    string_split(regexp_replace(t,
        |      '([.!?]+)[ \t\n\x0b\f\r]+', '\1' || chr(1), 'g'), chr(1)),
        |    x -> trim(x, ' ' || chr(9) || chr(10) || chr(11) || chr(12)
        |      || chr(13))), x -> len(x) > 0) AS ss
        |  FROM f)
        |SELECT doc_id, cast(len(ss) AS bigint) AS n_sentences,
        |  md5(array_to_string(ss, chr(1))) AS sents_md5
        |FROM sp ORDER BY doc_id""".stripMargin),
  )
}
