package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the hash-heavy text/vector operators. The declarative
  * forms (nested `transform`/`aggregate` lambdas) evaluate O(tokens × bits)
  * Catalyst expression nodes per row; these kernels run the same math as a
  * tight Java loop inside whole-stage codegen — one static call per row.
  *
  * Hashing is Spark's own XXH64 (seed 42), bit-compatible with the SQL
  * `xxhash64` function on strings.
  */
object TextKernels {
  final val Seed = 42L

  def hash(s: UTF8String): Long = XXH64.hashUTF8String(s, Seed)

  /** 64-bit SimHash over a token array: per bit, majority vote of the
    * token-hash bits (+1/-1); bit set if the vote is positive. */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      // null tokens are SKIPPED, not hashed: the SQL surface exposes
      // these kernels to arbitrary arrays, and hashing a null NPEs the
      // task — skipping matches concatWs (wordNgrams/rollingMin), so
      // every sibling kernel treats a null element the same way
      val t = tokens.getUTF8String(i)
      if (t != null) {
        val h = hash(t)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** SplitMix64 finalizer (public-domain constants). */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def permConstant(i: Int): Long =
    mix64(0x9E3779B97F4A7C15L * (i + 1) + 0x165667B19E3779F9L)

  // row-invariant, cached per k like planeMatrix: rebuilding the k
  // SplitMix64 chains (+ an array allocation) on EVERY row of the
  // hottest dedup kernel is pure per-row waste at corpus scale
  private val permCache = new ConcurrentHashMap[Integer, Array[Long]]()
  private def permConstants(k: Int): Array[Long] =
    permCache.computeIfAbsent(k, (kk: Integer) =>
      Array.tabulate(kk)(permConstant))

  /** k-permutation MinHash signature: one base xxhash64 per shingle,
    * re-mixed per permutation as SplitMix64(h + c_j).
    *
    * NOT a bare XOR family: `h ^ c_j` preserves most of the base
    * hash's high-bit ORDERING, so across all k rows the argmin lands
    * on nearly the same shingle — on a small shingle set whose global
    * minimum happens to sit outside the intersection, EVERY row of the
    * signature then differs and banding misses the pair at any band
    * count (observed: two J ≥ 0.8 short-doc pairs missed identically
    * at b = 8 and b = 12). The SplitMix64 finalizer re-mixes the sum,
    * so the k argmins are near-independent and the per-band collision
    * probability actually follows the s^r curve the banding math
    * assumes. */
  def minhashSig(shingles: ArrayData, k: Int): GenericArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val cs = permConstants(k)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val t = shingles.getUTF8String(i)
      if (t != null) { // null-skip: see simhash64
        val h = hash(t)
        var j = 0
        while (j < k) {
          val p = mix64(h + cs(j))
          if (p < mins(j)) mins(j) = p
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Word n-gram shingles: distinct `sep`-joined windows of `n` tokens.
    * (Single pass, no per-window string-builder churn beyond the joined
    * output UTF8Strings themselves.) */
  def wordNgrams(tokens: ArrayData, n: Int): GenericArrayData = {
    val t = tokens.numElements()
    val sep = UTF8String.fromString("_")
    val out = new java.util.LinkedHashSet[UTF8String]()
    // t == 0 falls into the t < n branch and yields one empty-string
    // shingle — matching the oracle's degenerate-doc branch, so empty
    // documents dedup against each other instead of vanishing
    if (t < n) {
      // degenerate doc shorter than the window: one shingle of all tokens
      val parts = Array.tabulate(t)(i => tokens.getUTF8String(i))
      out.add(UTF8String.concatWs(sep, parts: _*))
    } else {
      var i = 0
      while (i + n <= t) {
        val parts = Array.tabulate(n)(j => tokens.getUTF8String(i + j))
        out.add(UTF8String.concatWs(sep, parts: _*))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** POSITIONAL rolling span hashes — the span-removal rewrite's key
    * source ([[graft.dedup.Dedup.removeDuplicatedSpans]]): one xxhash64
    * per window start, array index = token position (no distincting —
    * [[wordNgrams]]' set semantics would lose the positions removal
    * needs). Each token normalizes ONCE (ROOT lowercase, stripped to
    * [a-z0-9] — case/punct-robust matching without breaking position
    * alignment); the window hashes the \u0001-joined normalized
    * tokens, bit-compatible with
    * `xxhash64(concat_ws('\u0001', slice(...)))` over the same
    * normalized array. Docs shorter than `n` yield an empty array —
    * no degenerate whole-doc shingle here; a short doc simply has no
    * removable span. Null tokens normalize to "" (split output never
    * contains them). */
  def spanHashes(tokens: ArrayData, n: Int): GenericArrayData = {
    val t = tokens.numElements()
    if (t < n) return new GenericArrayData(Array.empty[Any])
    val norm = new Array[UTF8String](t)
    var i = 0
    while (i < t) {
      val s = tokens.getUTF8String(i)
      norm(i) =
        if (s == null) UTF8String.EMPTY_UTF8
        else {
          val lowered = s.toString.toLowerCase(java.util.Locale.ROOT)
          val sb = new java.lang.StringBuilder(lowered.length)
          var k = 0
          while (k < lowered.length) {
            val c = lowered.charAt(k)
            if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
              sb.append(c)
            k += 1
          }
          UTF8String.fromString(sb.toString)
        }
      i += 1
    }
    val sep = UTF8String.fromString("\u0001")
    val out = new Array[Any](t - n + 1)
    i = 0
    while (i + n <= t) {
      val parts = Array.tabulate(n)(j => norm(i + j))
      out(i) = hash(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** WITHIN-document repeated-span removal — the self-dedup sibling of
    * the cross-document rewrite ([[graft.dedup.Dedup
    * .removeDuplicatedSpans]]): every n-token span whose normalized
    * form already occurred EARLIER in the same document drops
    * (position-coverage union over repeat occurrences; the first
    * occurrence keeps). Pure per-row kernel — no shuffle, no state, so
    * the whole rewrite is a narrow map over the corpus scan. Span
    * identity matches [[spanHashes]] (per-token ROOT lowercase
    * stripped to [a-z0-9]); retained tokens re-join with single spaces
    * IN ORDER, and a document with no repeats (or shorter than n)
    * returns BYTE-IDENTICAL text.
    * @return (text_clean, n_tokens, n_removed) */
  def dropRepeatedSpans(text: UTF8String,
                        n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString.split("\\s+").filter(_.nonEmpty)
    val t = raw.length
    def row(clean: UTF8String, removed: Long) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](clean, t.toLong, removed))
    if (t < n) return row(text, 0L)
    val hs = spanHashes(ArrayData.toArrayData(
      raw.map(UTF8String.fromString): Array[UTF8String]), n)
    val seen = new java.util.HashSet[java.lang.Long]()
    val covered = new Array[Boolean](t)
    var removedAny = false
    var p = 0
    val m = hs.numElements()
    while (p < m) {
      if (!seen.add(java.lang.Long.valueOf(hs.getLong(p)))) {
        var k = p
        while (k < p + n) { covered(k) = true; k += 1 }
        removedAny = true
      }
      p += 1
    }
    if (!removedAny) return row(text, 0L)
    val sb = new java.lang.StringBuilder(text.numBytes())
    var kept = 0
    var i = 0
    while (i < t) {
      if (!covered(i)) {
        if (kept > 0) sb.append(' ')
        sb.append(raw(i))
        kept += 1
      }
      i += 1
    }
    row(UTF8String.fromString(sb.toString), (t - kept).toLong)
  }

  /** Rolling (shingle-min) fingerprint: min xxhash64 over space-joined
    * sliding word windows. */
  def rollingMin(tokens: ArrayData, window: Int): Long = {
    val t = tokens.numElements()
    if (t == 0) return hash(UTF8String.EMPTY_UTF8)
    val sep = UTF8String.fromString(" ")
    val count = math.max(t - (window - 1), 1)
    var min = Long.MaxValue
    var i = 0
    while (i < count) {
      val m = math.min(window, t - i)
      val parts = Array.tabulate(m)(j => tokens.getUTF8String(i + j))
      val h = hash(UTF8String.concatWs(sep, parts: _*))
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** A word longer than this many code points skips the BPE merge
    * search and emits bare code points: the greedy loop is O(L²) per
    * word and a hostile megaword must not quadratic-blowup a corpus
    * scan. Unmerged is always a valid encoding, so the roundtrip and
    * count invariants hold either way. */
  val MaxBpeWord = 1024

  /** Code-point split (surrogate-pair safe). Training and encoding MUST
    * split identically or the merge table silently desynchronizes from
    * the encode kernel — this is the single shared implementation. */
  def splitCodePoints(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val cc = Character.charCount(s.codePointAt(i))
      parts += s.substring(i, i + cc)
      i += cc
    }
    parts
  }

  /** Apply a trained BPE merge table to a pre-tokenized word stream:
    * each word starts as code points and greedily merges the
    * LOWEST-RANK adjacent pair until none applies — the standard
    * byte-pair-encoding inference loop (rank = training merge order).
    * `ranks` keys are "left right" (space-separated, the convention of
    * public GPT-2-style merge files) — collision-free because parts are
    * substrings of whitespace-split words and can never contain a
    * space. Null words are skipped (parity with the null-skipping
    * declarative token pipeline). */
  def bpeEncode(tokens: ArrayData,
                ranks: java.util.HashMap[String, Integer]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val w = tokens.getUTF8String(t)
      if (w != null) {
        val parts = splitCodePoints(w.toString)
        if (!ranks.isEmpty && parts.length <= MaxBpeWord) {
          var done = false
          while (!done) {
            var best = -1
            var bestRank = Int.MaxValue
            var j = 0
            while (j < parts.length - 1) {
              val r = ranks.get(parts(j) + " " + parts(j + 1))
              if (r != null && r.intValue < bestRank) {
                bestRank = r.intValue; best = j
              }
              j += 1
            }
            if (best < 0) done = true
            else {
              parts(best) = parts(best) + parts(best + 1)
              parts.remove(best + 1)
            }
          }
        }
        parts.foreach(p => out += UTF8String.fromString(p))
      }
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** One-pass quality statistics. Semantics mirror the declarative/oracle
    * forms exactly: tokens are maximal non-whitespace runs; stopword
    * matching is on the lowercased token; alpha is ASCII [A-Za-z];
    * lengths/ratios are in characters (code points).
    * Returns (stopword_ratio, alpha_ratio, mean_token_len).
    */
  def qualityStats(text: UTF8String,
                   set: java.util.HashSet[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val len = s.codePointCount(0, s.length)
    var nAlpha = 0
    var nTok = 0
    var nStop = 0
    var sumTokLen = 0L
    var i = 0
    var tokStart = -1
    def endToken(endExclusive: Int): Unit = if (tokStart >= 0) {
      nTok += 1
      sumTokLen += s.codePointCount(tokStart, endExclusive)
      val tok = UTF8String.fromString(
        s.substring(tokStart, endExclusive).toLowerCase(java.util.Locale.ROOT))
      if (set.contains(tok)) nStop += 1
      tokStart = -1
    }
    // \s of the regex dialects used by the oracle and by `split`: ASCII only
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) nAlpha += 1
      if (isWs(c)) endToken(i)
      else if (tokStart < 0) tokStart = i
      i += 1
    }
    endToken(s.length)
    val denTok = math.max(nTok, 1).toDouble
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nStop / denTok,
      nAlpha / math.max(len, 1).toDouble,
      sumTokLen / denTok))
  }

  /** The Gopher quality-rule set — words in stopword lowercase. */
  private val GopherStops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("the", "be", "to", "of", "and", "that", "have", "with").foreach(s.add)
    s
  }

  /** Gopher-rule document statistics (Rae et al. 2021's published
    * repetition-free quality filters), emitted as RAW INTEGER COUNTS —
    * never ratios — so the oracle compares exact integers and the
    * thresholds stay integer arithmetic:
    *
    *   n_words, word_cps (Σ code points over words), n_symbols ('#' +
    *   '…' + non-overlapping "..."), n_lines ('\n'-split), bullet-led
    *   and ellipsis-ended line counts (bullet chars •, ‣, '-', star
    *   after space-tab ltrim;
    *   '…'/"..." after rtrim), words containing an ASCII letter, and
    *   Gopher-stopword hits (the/be/to/of/and/that/have/with).
    *
    * `pass` applies the Gopher bounds integer-exactly: 50 ≤ words ≤
    * 100000; mean word length in [3,10] (3·n ≤ cps ≤ 10·n); symbol
    * ratio ≤ 0.1 (10·sym ≤ n); bullet lines ≤ 10%; ellipsis lines ≤
    * 30%; alpha words ≥ 80% (5·alpha ≥ 4·n); ≥ 2 stopword hits.
    * Words split on the ASCII whitespace contract the oracles pin
    * (HostileDataSpec); the alpha class is ASCII-only. */
  def gopherStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var nWords = 0L
    var wordCps = 0L
    var nAlphaWords = 0L
    var nStop = 0L
    var i = 0
    var tokStart = -1
    var tokHasAlpha = false
    def endToken(endExclusive: Int): Unit = if (tokStart >= 0) {
      nWords += 1
      wordCps += s.codePointCount(tokStart, endExclusive)
      if (tokHasAlpha) nAlphaWords += 1
      if (GopherStops.contains(
          s.substring(tokStart, endExclusive)
            .toLowerCase(java.util.Locale.ROOT))) nStop += 1
      tokStart = -1; tokHasAlpha = false
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) endToken(i)
      else {
        if (tokStart < 0) tokStart = i
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
          tokHasAlpha = true
      }
      i += 1
    }
    endToken(s.length)
    // symbols: '#', '…', and non-overlapping "..." (left-to-right,
    // the String.replace counting identity (len−len(replace))/3)
    var nSymbols = 0L
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '#' || c == '…') { nSymbols += 1; i += 1 }
      else if (c == '.' && i + 2 < s.length &&
          s.charAt(i + 1) == '.' && s.charAt(i + 2) == '.') {
        nSymbols += 1; i += 3
      } else i += 1
    }
    // lines: '\n' split keeping empties (n '\n' + 1 lines)
    var nLines = 0L
    var nBullet = 0L
    var nEllipsis = 0L
    var lineStart = 0
    def endLine(endExclusive: Int): Unit = {
      nLines += 1
      var a = lineStart
      while (a < endExclusive &&
        (s.charAt(a) == ' ' || s.charAt(a) == '\t')) a += 1
      if (a < endExclusive) {
        val c0 = s.charAt(a)
        if (c0 == '•' || c0 == '‣' || c0 == '-' || c0 == '*')
          nBullet += 1
      }
      var b = endExclusive
      while (b > lineStart &&
        (s.charAt(b - 1) == ' ' || s.charAt(b - 1) == '\t')) b -= 1
      if (b > lineStart && s.charAt(b - 1) == '…') nEllipsis += 1
      else if (b - lineStart >= 3 && s.charAt(b - 1) == '.' &&
        s.charAt(b - 2) == '.' && s.charAt(b - 3) == '.') nEllipsis += 1
    }
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\n') { endLine(i); lineStart = i + 1 }
      i += 1
    }
    endLine(s.length)
    val pass =
      nWords >= 50L && nWords <= 100000L &&
        3L * nWords <= wordCps && wordCps <= 10L * nWords &&
        10L * nSymbols <= nWords &&
        10L * nBullet <= nLines &&
        10L * nEllipsis <= 3L * nLines &&
        5L * nAlphaWords >= 4L * nWords &&
        nStop >= 2L
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nWords, wordCps, nSymbols, nLines, nBullet, nEllipsis,
      nAlphaWords, nStop, if (pass) 1 else 0))
  }

  /** Rule-based sentence segmentation — the chunk-boundary prior a
    * context-window packer wants sharper than raw token windows.
    * DETERMINISTIC, cross-engine contract (chosen over linguistic
    * accuracy — abbreviation lists are model territory): a boundary is
    * a run of [.!?] followed by ASCII whitespace (or end of text); the
    * punctuation stays with the left sentence, the whitespace run
    * drops, sentences trim ASCII whitespace at both ends, empties
    * vanish. Identical to the oracle's marker-insertion regex
    * (`([.!?]+)[ \t\n\x0b\f\r]+` → `\1<marker>`, split, trim). */
  def sentences(text: UTF8String): GenericArrayData = {
    val s = text.toString
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
        c == '\r'
    def isPunct(c: Char): Boolean = c == '.' || c == '!' || c == '?'
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def emit(from: Int, to: Int): Unit = {
      var a = from
      while (a < to && isWs(s.charAt(a))) a += 1
      var b = to
      while (b > a && isWs(s.charAt(b - 1))) b -= 1
      if (b > a) out += UTF8String.fromString(s.substring(a, b))
    }
    var start = 0
    var i = 0
    while (i < s.length) {
      if (isPunct(s.charAt(i))) {
        var j = i + 1
        while (j < s.length && isPunct(s.charAt(j))) j += 1
        if (j < s.length && isWs(s.charAt(j))) {
          emit(start, j)
          var k = j + 1
          while (k < s.length && isWs(s.charAt(k))) k += 1
          start = k
          i = k
        } else i = j
      } else i += 1
    }
    emit(start, s.length)
    new GenericArrayData(out.toArray)
  }

  /** Symmetric int8 quantization of a double vector as ONE kernel call
    * — the declarative form evaluated five interpreted lambda passes
    * per row and re-derived the scale subexpression per ELEMENT
    * (measured: ~0.6 s per pass over 2000 embeddings at sf0.1, twice
    * per gate run). Semantics are the [[graft.similarity.Quantize]]
    * column form's, replicated bit-for-bit (QuantizeSpec A/B-replays
    * the old construction): max ignores nulls and treats NaN as
    * greatest; null scale (no elements) or zero scale → all-zero codes
    * over the element count; otherwise q_i = cast-to-int of
    * least(127, greatest(-127, round(v_i/scale))) with Spark's
    * HALF_UP double rounding, where a null element lands at −127
    * (round(null) is null and greatest skips it) and NaN/∞ saturate
    * at ±127. A null VECTOR returns (0.0, null codes) — the row is
    * never null, matching struct(coalesce(scale, 0), q). */
  def quantizeInt8(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    if (vec == null) return new GenericInternalRow(Array[Any](0.0, null))
    val n = vec.numElements()
    var hasMax = false
    var amax = 0.0
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val a = math.abs(vec.getDouble(i))
        if (!hasMax || java.lang.Double.compare(a, amax) > 0) {
          amax = a; hasMax = true
        }
      }
      i += 1
    }
    val scale = amax / 127.0
    if (!hasMax || scale == 0.0)
      return new GenericInternalRow(Array[Any](0.0,
        new GenericArrayData(new Array[Int](n))))
    val out = new Array[Int](n)
    var j = 0
    while (j < n) {
      if (vec.isNullAt(j)) out(j) = -127
      else {
        val x = vec.getDouble(j) / scale
        val r =
          if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
          else java.math.BigDecimal.valueOf(x)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        val g = if (java.lang.Double.isNaN(r)) r else math.max(-127.0, r)
        val l = if (java.lang.Double.isNaN(g)) 127.0 else math.min(127.0, g)
        out(j) = l.toInt
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](scale, new GenericArrayData(out)))
  }

  /** PQ codes for a NORMALIZED vector against a per-subspace codebook:
    * codes(i) = argmin_j Σ_d (v[i·subdim+d] − cents(i)(j)(d))², with
    * the exact semantics of the higher-order-function form it replaces
    * (that form interpreted ~m·k nested lambdas with a struct
    * allocation per (subspace, centroid) PER ROW — measured as a 2.2 s
    * single-task stage on the PQ gates at sf0.1): left-to-right double
    * accumulation, argmin under Spark's total order (NaN greatest, so
    * a NaN distance never beats a finite or infinite one), ties keep
    * the smallest j. Dimension mismatch throws — [[vecDot]]'s drift
    * contract; empty centroid lists cannot come out of Pq.train. */
  def pqEncode(vec: ArrayData, cents: Array[Array[Array[Double]]],
               subdim: Int): GenericArrayData = {
    val v = vec.toDoubleArray()
    val m = cents.length
    require(v.length == m * subdim,
      s"pq_encode: vector dim ${v.length} != m*subdim = ${m * subdim}")
    val out = new Array[Int](m)
    var i = 0
    while (i < m) {
      val subC = cents(i)
      require(subC.nonEmpty, "pq_encode: empty centroid list")
      val off = i * subdim
      var bestJ = 0
      var bestD = 0.0
      var j = 0
      while (j < subC.length) {
        val cj = subC(j)
        var acc = 0.0
        var d = 0
        while (d < subdim) { val x = v(off + d) - cj(d); acc += x * x; d += 1 }
        // Spark-total-order "strictly better": NaN loses to anything,
        // anything (inf included) beats NaN, ties keep the earlier j
        if (j == 0 || (!java.lang.Double.isNaN(acc) &&
            (java.lang.Double.isNaN(bestD) || acc < bestD))) {
          bestD = acc; bestJ = j
        }
        j += 1
      }
      out(i) = bestJ
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score of a codes array against a per-query table:
    * Σ_i qtab(i)(codes(i)), left-to-right. Null-poisoned like the
    * zip_with/aggregate form it replaces for the [[pqEncode]] contract
    * (codes in [0, k)): a length mismatch, a null element, or an
    * out-of-range code yields a NULL total (never a partial sum).
    * NOTE the parity claim is scoped to codes >= 0 — the old
    * element_at form THREW on code -1 and indexed from the array END
    * for code <= -2, values unreachable from pqEncode but different
    * from this kernel's NULL. Returns a boxed Double so null survives
    * codegen. */
  def pqAdcScore(codes: ArrayData, qtab: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    if (m != qtab.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i) || qtab.isNullAt(i)) return null
      val tbl = qtab.getArray(i)
      val code = codes.getInt(i)
      if (code < 0 || code >= tbl.numElements() || tbl.isNullAt(code))
        return null
      acc += tbl.getDouble(code)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Dot product of two double vectors. Mismatched dimensions throw —
    * truncating to the shorter vector would rank on a plausible-but-
    * wrong similarity; schema drift (mixed embedding versions) must
    * surface, not silently mis-rank. */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    require(x.length == y.length,
      s"vector dimension mismatch: ${x.length} vs ${y.length}")
    var acc = 0.0
    var i = 0
    while (i < x.length) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** L2-normalize a double vector (zero vectors pass through). */
  def l2normalize(vec: ArrayData): GenericArrayData = {
    val v = vec.toDoubleArray()
    var norm = 0.0
    var i = 0
    while (i < v.length) { norm += v(i) * v(i); i += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < v.length) { v(i) *= inv; i += 1 }
    }
    new GenericArrayData(v)
  }

  /** Raw-bits payload for the embedding-front content class key: the
    * vector's non-null elements as big-endian `doubleToLongBits`
    * bytes, md5-digested by the caller. Same equivalence classes as
    * digesting the canonical decimal rendering (the previous key), at
    * a fraction of the cost — no per-element shortest-round-trip
    * string formatting, no join buffer: `doubleToLongBits` is
    * injective over doubles up to NaN canonicalization (all NaNs
    * collapse to one bit pattern, exactly as every NaN rendered
    * "NaN"), distinguishes -0.0 from 0.0 (as "-0.0" vs "0.0" did),
    * and null elements are skipped (as `array_join` skipped them). */
  def vecClassBits(vec: ArrayData): Array[Byte] = {
    val n = vec.numElements()
    val bb = java.nio.ByteBuffer.allocate(8 * n)
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i))
        bb.putLong(java.lang.Double.doubleToLongBits(vec.getDouble(i)))
      i += 1
    }
    if (bb.position() == bb.capacity()) bb.array()
    else java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** Nearest-centroid argmax for the Lloyd loop: dot(v, c_j) computed
    * left-to-right ([[vecDot]] parity), ranked by `Double.compare`
    * (NaN greatest), ties to the HIGHEST cluster id — bit-for-bit the
    * `max(struct(sim, cluster))` the crossJoin + groupBy(cid) plan
    * computed, in one kernel call with no exchange. The one place the
    * two orders differ is signed zero — Spark's double ordering treats
    * -0.0 == 0.0, `Double.compare` puts -0.0 first — and it cannot
    * arise: the sum starts at +0.0, and round-to-nearest addition
    * onto +0.0 never yields -0.0. `ids` ascending;
    * `>=` keeps the later (higher) id on ties. Dimension mismatches
    * throw (the [[vecDot]] schema-drift contract). */
  def ivfAssign(vec: ArrayData, ids: Array[Int],
                cents: Array[Array[Double]]): Int = {
    require(cents.length > 0, "ivfAssign: empty centroid set")
    val v = vec.toDoubleArray()
    var best = 0.0
    var bestC = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      require(v.length == c.length,
        s"vector dimension mismatch: ${v.length} vs ${c.length}")
      var acc = 0.0
      var d = 0
      while (d < v.length) { acc += v(d) * c(d); d += 1 }
      if (j == 0 || java.lang.Double.compare(acc, best) >= 0) {
        best = acc; bestC = ids(j)
      }
      j += 1
    }
    bestC
  }

  /** Feature-hashing ("hashing trick") text embedding: tokens →
    * L2-normalized signed-count vector of dimension `dim`. Bucket =
    * hash mod dim; sign = one hash bit (debiases collisions). Connects
    * the text corpus to every vector operator (ANN, embedding dedup)
    * without a model. */
  def hashEmbed(tokens: ArrayData, dim: Int): GenericArrayData = {
    val v = new Array[Double](dim)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) { // null-skip: see simhash64
        val h = hash(t)
        val b = java.lang.Math.floorMod(h, dim.toLong).toInt
        v(b) += (if (((h >>> 62) & 1L) == 1L) 1.0 else -1.0)
      }
      i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      j = 0
      while (j < dim) { v(j) *= inv; j += 1 }
    }
    new GenericArrayData(v)
  }

  // ── Random-hyperplane LSH ────────────────────────────────────────────

  private val planeCache = new ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** Deterministic pseudo-random hyperplanes: component (p, d) is a
    * SplitMix64 of the indices mapped to [-0.5, 0.5). Cached per
    * (planes, dim) — executors rebuild identically, no RNG state ships. */
  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, dim), { case (p, d) =>
      Array.tabulate(p)(pi => Array.tabulate(d)(di =>
        (java.lang.Math.floorMod(mix64((pi.toLong << 32) | di.toLong), 1000000L)
          .toDouble / 1000000.0) - 0.5))
    })

  /** Sign-bit signature packed into one long (planes ≤ 64): bit p =
    * sign of ⟨vec, plane_p⟩. The packed form rides shuffles as 8 bytes
    * and supports Hamming prefilters via bit_count(xor). */
  def lshBitsPacked(vec: ArrayData, planes: Int): Long = {
    val v = vec.toDoubleArray()
    val m = planeMatrix(planes, v.length)
    var sig = 0L
    var p = 0
    while (p < planes) {
      val row = m(p)
      var acc = 0.0
      var d = 0
      val n = math.min(v.length, row.length)
      while (d < n) { acc += v(d) * row(d); d += 1 }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Packed sign-bit signature of (vec − center): hyperplanes through
    * the corpus mean split signs evenly, so buckets stay balanced even
    * on internally-correlated corpora (raw sign bits skew hot there). */
  def lshBitsPackedCentered(vec: ArrayData, planes: Int,
                            center: Array[Double]): Long = {
    val v = vec.toDoubleArray()
    // empty center = intentionally uncentered; any OTHER length mismatch
    // (a stale persisted mean after an embedding-dim change) would
    // center some dimensions and not others — signatures neither
    // centered nor raw, buckets silently skewed. Same drift contract as
    // vecDot: surface it.
    if (center.length != 0 && center.length != v.length)
      throw new IllegalArgumentException(
        s"lsh center dim ${center.length} != vector dim ${v.length} — " +
          "stale persisted mean? rebuild the index or re-derive the center")
    val m = planeMatrix(planes, v.length)
    var sig = 0L
    var p = 0
    while (p < planes) {
      val row = m(p)
      var acc = 0.0
      var d = 0
      val n = math.min(v.length, row.length)
      while (d < n) {
        val x = if (d < center.length) v(d) - center(d) else v(d)
        acc += x * row(d)
        d += 1
      }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Sign-bit signature: bit p = sign of ⟨vec, plane_p⟩. Returns 0/1 ints. */
  def lshBits(vec: ArrayData, planes: Int): GenericArrayData = {
    val v = vec.toDoubleArray()
    val m = planeMatrix(planes, v.length)
    val bits = new Array[Int](planes)
    var p = 0
    while (p < planes) {
      val row = m(p)
      var acc = 0.0
      var d = 0
      val n = math.min(v.length, row.length)
      while (d < n) { acc += v(d) * row(d); d += 1 }
      bits(p) = if (acc >= 0) 1 else 0
      p += 1
    }
    new GenericArrayData(bits)
  }

  /** Unicode hygiene for ingested text: drop control characters (Cc
    * except \t \n \r) and the zero-width code points (U+200B..U+200D,
    * U+FEFF), THEN NFC-compose — two visually-identical docs with
    * different compositions or stray zero-widths must hash identically
    * downstream. Strip-before-compose is what makes the function
    * IDEMPOTENT (found by the randomized property spec): composing first
    * leaves sequences like `e + ZWNJ + combining-acute` un-composed —
    * the zero-width blocks composition — and once the strip removes it,
    * a second pass would compose `e + acute` and change the output
    * again. Stripping first exposes every such pair to the one compose
    * pass, and NFC never introduces stripped code points, so the output
    * is a fixed point. The fast path for already-clean composed text is
    * one scan + Normalizer.isNormalized, no allocation. */
  def nfcClean(s: UTF8String): UTF8String = {
    import java.text.Normalizer
    val raw = s.toString
    val n = raw.length
    var i = 0
    var dirty = false
    while (i < n && !dirty) { if (isStripped(raw.charAt(i))) dirty = true; i += 1 }
    val stripped =
      if (!dirty) raw
      else {
        val sb = new java.lang.StringBuilder(n)
        i = 0
        while (i < n) {
          val ch = raw.charAt(i)
          if (!isStripped(ch)) sb.append(ch)
          i += 1
        }
        sb.toString
      }
    val composed =
      if (Normalizer.isNormalized(stripped, Normalizer.Form.NFC)) stripped
      else Normalizer.normalize(stripped, Normalizer.Form.NFC)
    if (composed eq raw) s else UTF8String.fromString(composed)
  }

  private def isStripped(ch: Char): Boolean =
    (ch < 0x20 && ch != '\t' && ch != '\n' && ch != '\r') ||
      (ch >= 0x7F && ch <= 0x9F) ||
      (ch >= 0x200B && ch <= 0x200D) || ch == 0xFEFF
}

/** Codegen wrapper: a unary expression whose value is one static kernel
  * call — stays inside WholeStageCodegen, no lambda-tree interpretation. */
abstract class KernelUnaryExpression extends UnaryExpression {
  /** Java source for the kernel call, given the evaluated child variable. */
  protected def kernelCall(childVar: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${kernelCall(c)};")
}

case class SimHash64Expr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(in: Any): Any =
    TextKernels.simhash64(in.asInstanceOf[ArrayData])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.simhash64($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class MinHashSigExpr(child: Expression, k: Int) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(in: Any): Any =
    TextKernels.minhashSig(in.asInstanceOf[ArrayData], k)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.minhashSig($c, $k)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class WordNgramsExpr(child: Expression, n: Int) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def nullSafeEval(in: Any): Any =
    TextKernels.wordNgrams(in.asInstanceOf[ArrayData], n)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.wordNgrams($c, $n)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class NfcCleanExpr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_clean"
  override def nullSafeEval(in: Any): Any =
    TextKernels.nfcClean(in.asInstanceOf[UTF8String])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.nfcClean($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class DropRepeatedSpansExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("text_clean", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def prettyName: String = "drop_repeated_spans"
  override def nullSafeEval(in: Any): Any =
    TextKernels.dropRepeatedSpans(in.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.dropRepeatedSpans($c, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SpanHashesExpr(child: Expression, n: Int) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "span_hashes"
  override def nullSafeEval(in: Any): Any =
    TextKernels.spanHashes(in.asInstanceOf[ArrayData], n)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.spanHashes($c, $n)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class RollingMinExpr(child: Expression, window: Int) extends KernelUnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_min_fingerprint"
  override def nullSafeEval(in: Any): Any =
    TextKernels.rollingMin(in.asInstanceOf[ArrayData], window)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.rollingMin($c, $window)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

// Non-nullable struct result over a nullable child: a null vector maps
// to (0.0, null codes), NOT a null row — the Quantize column form's
// struct(coalesce(scale, 0), q) contract — so this bypasses
// nullSafeCodeGen and emits its own null-passing call.
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false),
      nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "quantize_int8"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    TextKernels.quantizeInt8(
      if (v == null) null else v.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      InternalRow ${ev.value} = graft.ops.TextKernels.quantizeInt8(
        ${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

// centroids as nested Seq, NOT Array — the LshBitsPackedCenteredExpr
// content-equality rationale: two encode expressions built from the
// same (persisted) model must semanticEquals or CSE/ReusedExchange is
// lost. A transient Array mirror feeds the kernel.
case class PqEncodeExpr(child: Expression, centroids: Seq[Seq[Seq[Double]]],
                        subdim: Int) extends UnaryExpression {
  @transient private lazy val centArr: Array[Array[Array[Double]]] =
    centroids.map(_.map(_.toArray).toArray).toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(in: Any): Any =
    TextKernels.pqEncode(in.asInstanceOf[ArrayData], centArr, subdim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCents", centArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.pqEncode($c, $ref, $subdim);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqAdcScoreExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_score"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.pqAdcScore(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("pqAdc")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $r = graft.ops.TextKernels.pqAdcScore($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.doubleValue(); }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class VecDotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.ops.TextKernels.vecDot($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

// center is a Seq, NOT an Array: case-class equality on an Array field
// compares by REFERENCE, so two semantically identical centered-LSH
// expressions built from separately collected means would never be
// semanticEquals — losing common-subexpression elimination and
// ReusedExchange dedup (the signature kernel and its exchange would run
// twice at corpus scale). A Seq compares by content.
case class LshBitsPackedCenteredExpr(child: Expression, planes: Int,
                                     center: Seq[Double])
    extends UnaryExpression {
  require(planes <= 64, "packed signature holds at most 64 planes")
  @transient private lazy val centerArr: Array[Double] = center.toArray
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sign_bits_centered"
  override def nullSafeEval(in: Any): Any =
    TextKernels.lshBitsPackedCentered(in.asInstanceOf[ArrayData], planes,
      centerArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("center", centerArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.lshBitsPackedCentered($c, $planes, $ref);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

// merges is a Seq of pairs, NOT an Array, for the same content-equality
// reason as LshBitsPackedCenteredExpr's center: two expressions built
// from separately trained (identical) merge tables must semanticEquals
// or CSE/ReusedExchange dedup is lost.
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  require(merges.forall { case (a, b) =>
    a.nonEmpty && b.nonEmpty && !(a + b).exists(Character.isWhitespace(_)) },
    "BPE merge parts must be non-empty and whitespace-free " +
      "(parts come from whitespace-split words)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  // row-invariant reference object, built once per task (the same waste
  // class QualityStatsExpr's stopword set avoids); first (lowest) rank
  // wins if a caller passes a duplicate merge pair
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(i)) }
    m
  }
  override def nullSafeEval(in: Any): Any =
    TextKernels.bpeEncode(in.asInstanceOf[ArrayData], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.bpeEncode($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

// ids/cents are Seqs, not Arrays, for the LshBitsPackedCenteredExpr
// content-equality reason: two semantically-equal plans must
// semanticEquals or CSE/ReusedExchange dedup is lost
case class IvfAssignExpr(child: Expression, ids: Seq[Int],
                         cents: Seq[Seq[Double]])
    extends UnaryExpression {
  require(ids.length == cents.length && ids.nonEmpty,
    "ivf_assign needs one id per centroid, at least one")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_assign"
  // row-invariant reference objects, built once per task
  @transient private lazy val idArr: Array[Int] = ids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  override def nullSafeEval(in: Any): Any =
    TextKernels.ivfAssign(in.asInstanceOf[ArrayData], idArr, centArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idRef = ctx.addReferenceObj("ivfIds", idArr, "int[]")
    val cRef = ctx.addReferenceObj("ivfCents", centArr, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.ivfAssign($c, $idRef, $cRef);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class VecClassBitsExpr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "vec_class_bits"
  override def nullSafeEval(in: Any): Any =
    TextKernels.vecClassBits(in.asInstanceOf[ArrayData])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.vecClassBits($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class L2NormalizeExpr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "l2_normalize"
  override def nullSafeEval(in: Any): Any =
    TextKernels.l2normalize(in.asInstanceOf[ArrayData])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.l2normalize($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class HashEmbedExpr(child: Expression, dim: Int) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hash_embed"
  override def nullSafeEval(in: Any): Any =
    TextKernels.hashEmbed(in.asInstanceOf[ArrayData], dim)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.hashEmbed($c, $dim)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SentencesExpr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sentences"
  override def nullSafeEval(in: Any): Any =
    TextKernels.sentences(in.asInstanceOf[UTF8String])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.sentences($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class GopherStatsExpr(child: Expression) extends KernelUnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("word_cps", LongType, nullable = false),
    StructField("n_symbols", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_stop_hits", LongType, nullable = false),
    StructField("pass", IntegerType, nullable = false)))
  override def prettyName: String = "gopher_stats"
  override def nullSafeEval(in: Any): Any =
    TextKernels.gopherStats(in.asInstanceOf[UTF8String])
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.gopherStats($c)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class QualityStatsExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false)))
  override def prettyName: String = "quality_stats"

  // the SET is the row-invariant reference object, built once per task —
  // building it inside the kernel was a per-row HashSet allocation +
  // full re-insert on the corpus-scan hot path (the same waste class
  // permConstants/planeMatrix caching exists for)
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String](stopwords.length * 2)
    stopwords.foreach(w => set.add(UTF8String.fromString(w)))
    set
  }

  override def nullSafeEval(in: Any): Any =
    TextKernels.qualityStats(in.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextKernels.qualityStats($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LshBitsExpr(child: Expression, planes: Int) extends KernelUnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_sign_bits"
  override def nullSafeEval(in: Any): Any =
    TextKernels.lshBits(in.asInstanceOf[ArrayData], planes)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.lshBits($c, $planes)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LshBitsPackedExpr(child: Expression, planes: Int)
    extends KernelUnaryExpression {
  require(planes <= 64, "packed signature holds at most 64 planes")
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sign_bits_packed"
  override def nullSafeEval(in: Any): Any =
    TextKernels.lshBitsPacked(in.asInstanceOf[ArrayData], planes)
  override protected def kernelCall(c: String): String =
    s"graft.ops.TextKernels.lshBitsPacked($c, $planes)"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-level API for the kernel expressions. */
object TextExprs {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def simhash64(tokens: Column): Column = c(SimHash64Expr(e(tokens)))
  def minhashSig(shingles: Column, k: Int): Column = c(MinHashSigExpr(e(shingles), k))
  def wordNgrams(tokens: Column, n: Int): Column = c(WordNgramsExpr(e(tokens), n))
  def rollingMin(tokens: Column, window: Int): Column = c(RollingMinExpr(e(tokens), window))
  def spanHashes(tokens: Column, n: Int): Column = c(SpanHashesExpr(e(tokens), n))
  def dropRepeatedSpans(text: Column, n: Int): Column =
    c(DropRepeatedSpansExpr(e(text), n))
  def nfcClean(text: Column): Column = c(NfcCleanExpr(e(text)))
  def lshBits(vec: Column, planes: Int): Column = c(LshBitsExpr(e(vec), planes))
  def lshBitsPacked(vec: Column, planes: Int): Column =
    c(LshBitsPackedExpr(e(vec), planes))
  def qualityStats(text: Column, stopwords: Seq[String]): Column =
    c(QualityStatsExpr(e(text), stopwords))
  def gopherStats(text: Column): Column = c(GopherStatsExpr(e(text)))
  def sentences(text: Column): Column = c(SentencesExpr(e(text)))
  def hashEmbed(tokens: Column, dim: Int): Column = c(HashEmbedExpr(e(tokens), dim))
  def l2normalize(vec: Column): Column = c(L2NormalizeExpr(e(vec)))
  def vecClassBits(vec: Column): Column = c(VecClassBitsExpr(e(vec)))
  def ivfAssign(vec: Column, ids: Seq[Int], cents: Seq[Seq[Double]]): Column =
    c(IvfAssignExpr(e(vec), ids, cents))
  def vecDot(a: Column, b: Column): Column = c(VecDotExpr(e(a), e(b)))
  def lshBitsPackedCentered(vec: Column, planes: Int, center: Array[Double]): Column =
    c(LshBitsPackedCenteredExpr(e(vec), planes,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(center)))
  def bpeEncode(tokens: Column, merges: Seq[(String, String)]): Column =
    c(BpeEncodeExpr(e(tokens), merges))
  def pqEncode(vec: Column, centroids: Seq[Seq[Seq[Double]]],
               subdim: Int): Column =
    c(PqEncodeExpr(e(vec), centroids, subdim))
  def quantizeInt8(vec: Column): Column = c(QuantizeInt8Expr(e(vec)))
  def pqAdcScore(codes: Column, qtab: Column): Column =
    c(PqAdcScoreExpr(e(codes), e(qtab)))
}
