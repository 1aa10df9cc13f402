package graft.ingest

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, collect_list, explode, lit, struct}

/** REAL pure-JVM WARC (ISO 28500) record codec — the container format
  * of web-crawl corpora (Common Crawl's `.warc` / `.warc.gz` / WET
  * text extracts), i.e. the FIRST parse a 100 TB pre-training ingest
  * runs. Same discipline as [[graft.multimodal.Containers]]: byte-level
  * parsing of real container bytes, a deterministic builder so gates
  * and specs can synthesize spec-valid files from table columns, and
  * total parsers — a truncated or malformed record in a crawl shard
  * must become a classifiable row boundary, never a task failure.
  *
  * Format (public spec, ISO 28500 / WARC 1.1): records are
  * concatenated; each is a `WARC/1.x` version line, CRLF-separated
  * named headers (continuation lines fold with leading SP/HT), an
  * empty line, `Content-Length` block bytes, and a CRLF CRLF record
  * separator. The `.warc.gz` convention compresses EACH RECORD as its
  * own gzip member so readers can split at member boundaries;
  * [[parseWarc]] accepts both forms (the JDK's `GZIPInputStream`
  * walks concatenated members natively).
  *
  * The reference engine's ingest parses trigger-file batches of
  * delimited records (`Utils.scala:119-167`); this is the same
  * batch-boundary discipline applied to the web-crawl container the
  * scale extensions target.
  */
object Warc {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One parsed record. `block` is the raw record block; for
    * `response` records it is an HTTP message ([[httpParts]] splits
    * it). `recIdx` is the record's ordinal within its file.
    * `refersTo`/`payloadDigest` surface the crawler-side dedup headers
    * `revisit` records carry (WARC-Refers-To names the original
    * record, WARC-Payload-Digest its content digest — Common Crawl
    * writes these for re-fetched unchanged pages, and a curation
    * pipeline should CONSUME that signal, not recompute it). */
  final case class WarcRecord(
      recIdx: Int,
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      date: String,
      contentType: String,
      block: Array[Byte],
      refersTo: Option[String] = None,
      payloadDigest: Option[String] = None,
      profile: Option[String] = None)

  /** Builder input: the headers a synthesized record carries.
    * `refersTo`/`payloadDigest` emit the revisit dedup headers;
    * `profile` emits WARC-Profile (the revisit kind marker, e.g.
    * `http://netpreserve.org/warc/1.1/revisit/identical-payload-digest`). */
  final case class WarcSpecRec(
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      date: String,
      contentType: String,
      block: Array[Byte],
      refersTo: Option[String] = None,
      payloadDigest: Option[String] = None,
      profile: Option[String] = None)

  private val CRLF = "\r\n"

  /** Serialize records as a plain `.warc` byte stream (WARC/1.1
    * version line, canonical header order, CRLF CRLF separators). */
  def buildWarc(records: Seq[WarcSpecRec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val sb = new StringBuilder
      sb.append("WARC/1.1").append(CRLF)
      sb.append("WARC-Type: ").append(r.warcType).append(CRLF)
      sb.append("WARC-Record-ID: ").append(r.recordId).append(CRLF)
      sb.append("WARC-Date: ").append(r.date).append(CRLF)
      r.targetUri.foreach(u =>
        sb.append("WARC-Target-URI: ").append(u).append(CRLF))
      r.refersTo.foreach(v =>
        sb.append("WARC-Refers-To: ").append(v).append(CRLF))
      r.payloadDigest.foreach(v =>
        sb.append("WARC-Payload-Digest: ").append(v).append(CRLF))
      r.profile.foreach(v =>
        sb.append("WARC-Profile: ").append(v).append(CRLF))
      sb.append("Content-Type: ").append(r.contentType).append(CRLF)
      sb.append("Content-Length: ").append(r.block.length).append(CRLF)
      sb.append(CRLF)
      out.write(sb.toString.getBytes(UTF_8))
      out.write(r.block)
      out.write((CRLF + CRLF).getBytes(UTF_8))
    }
    out.toByteArray
  }

  /** Serialize as `.warc.gz` — one gzip MEMBER per record (the Common
    * Crawl splittability convention: a reader positioned at any member
    * boundary can start parsing without seeing prior bytes). */
  def buildWarcGz(records: Seq[WarcSpecRec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(buildWarc(Seq(r)))
      // close(), not just finish(): finish() flushes the member but
      // leaves the native Deflater live until GC — one per RECORD on
      // the export hot path. close() ends the deflater immediately
      // (and is a no-op on the underlying ByteArrayOutputStream).
      gz.close()
    }
    out.toByteArray
  }

  /** One raw gzip member over arbitrary bytes — the fixture seam for
    * planting malformed members between valid ones (corrupt-shard
    * tests), sharing buildWarcGz's close-the-deflater discipline. */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  private def isGzip(payload: Array[Byte]): Boolean =
    payload.length >= 2 &&
      (payload(0) & 0xFF) == 0x1F && (payload(1) & 0xFF) == 0x8B

  /** Hard ceiling on the stream iterator's assembly buffer (256 MiB).
    * Far above any real WARC record (Common Crawl truncates payloads
    * around 1 MiB); reached only when a corrupt shard makes "malformed"
    * masquerade as "incomplete" — see [[WarcStreamIterator]]. Doubling
    * from 64 KiB keeps every intermediate size an exact power of two
    * below Int overflow. */
  val MaxAssemblyBytes: Int = 256 * 1024 * 1024

  /** Incremental record iterator over a byte STREAM — the scale path:
    * a Common-Crawl shard is ~1 GB gzipped / ~4 GB decompressed, and
    * decompressing the whole shard before the walk (the pre-r16 shape)
    * put all 4 GB on one task's heap. This parses records AS the
    * stream decompresses, holding only the bytes of the record
    * currently assembling (plus one 64 KiB read chunk), so peak memory
    * is O(largest record), not O(shard). TOTAL like the array walk: a
    * malformed record or a mid-stream IOException (corrupt deflate
    * data after valid members) ends the iteration with the records
    * already parsed. The stream is closed at end-of-iteration —
    * drain the iterator (its consumers all do).
    *
    * `peakBufferBytes` is the test seam pinning the memory envelope:
    * the high-water mark of the live assembly buffer.
    *
    * The assembly buffer is CAPPED at [[MaxAssemblyBytes]]: a
    * malformed record mid-stream is indistinguishable from an
    * incomplete one, so without a cap advance() would buffer the
    * entire remaining decompressed stream hunting for a parse (and at
    * 1 GiB the doubling arithmetic would overflow Int). Hitting the
    * cap is treated as EOF — iteration ends with the records already
    * parsed, the same truncated-shard totality contract. Real WARC
    * records are ≤ a few MiB; the cap only bites corrupt shards. */
  final class WarcStreamIterator(in: java.io.InputStream,
                                 maxAssemblyBytes: Int = MaxAssemblyBytes)
      extends Iterator[WarcRecord] {
    private var buf = new Array[Byte](64 * 1024)
    private var limit = 0 // valid bytes in buf
    private var pos = 0   // consumed offset
    private var eof = false
    private var idx = 0
    private var done = false
    private var nextRec: WarcRecord = null
    private var peak = 0L

    def peakBufferBytes: Long = peak

    /** Release the underlying stream (and its native Inflater) without
      * draining — for consumers that only need the first record. Safe
      * to call repeatedly; iteration after close yields no new reads. */
    def close(): Unit = { eof = true; closeQuietly() }

    private def closeQuietly(): Unit =
      try in.close() catch { case _: java.io.IOException => () }

    /** Append one chunk from the stream; EOF or IOException (corrupt
      * deflate mid-stream) flips `eof` — totality, never a throw. */
    private def readMore(): Unit = {
      if (pos > 0) { // compact once per consumed record, not per chunk
        System.arraycopy(buf, pos, buf, 0, limit - pos)
        limit -= pos
        pos = 0
      }
      if (limit == buf.length) {
        if (buf.length >= maxAssemblyBytes) {
          // no parse succeeded inside the cap: malformed, not merely
          // incomplete — end the iteration on the parsed prefix
          eof = true; closeQuietly(); return
        }
        buf = java.util.Arrays.copyOf(
          buf, math.min(buf.length.toLong * 2, maxAssemblyBytes.toLong).toInt)
      }
      val n =
        try in.read(buf, limit, buf.length - limit)
        catch { case _: java.io.IOException => -1 }
      if (n < 0) { eof = true; closeQuietly() }
      else {
        limit += n
        if (limit > peak) peak = limit
      }
    }

    private def advance(): Unit =
      while (nextRec == null && !done) {
        parseOne(buf, pos, limit, idx) match {
          case Some((rec, next)) =>
            nextRec = rec
            pos = next.toInt
            idx += 1
          case None =>
            // insufficient bytes and malformed look alike mid-stream:
            // only EOF settles it (then the prefix parsed so far IS
            // the answer, the truncated-shard contract)
            if (eof) { done = true; closeQuietly() }
            else readMore()
        }
      }

    override def hasNext: Boolean = { advance(); nextRec != null }
    override def next(): WarcRecord = {
      advance()
      if (nextRec == null) throw new NoSuchElementException("WARC iterator")
      val r = nextRec
      nextRec = null
      r
    }
  }

  /** In-place iterator over an already-decompressed (or plain `.warc`)
    * payload — no copy of the array the task already holds. */
  private final class WarcArrayIterator(bytes: Array[Byte])
      extends Iterator[WarcRecord] {
    private var pos = 0L
    private var idx = 0
    private var done = false
    private var nextRec: WarcRecord = null
    private def advance(): Unit =
      if (nextRec == null && !done) {
        if (pos >= bytes.length) done = true
        else parseOne(bytes, pos.toInt, bytes.length, idx) match {
          case Some((rec, next)) => nextRec = rec; pos = next; idx += 1
          case None => done = true
        }
      }
    override def hasNext: Boolean = { advance(); nextRec != null }
    override def next(): WarcRecord = {
      advance()
      if (nextRec == null) throw new NoSuchElementException("WARC iterator")
      val r = nextRec
      nextRec = null
      r
    }
  }

  /** Lazy record iterator over a `.warc` or `.warc.gz` payload: plain
    * payloads walk in place; gzip payloads stream member-by-member
    * through [[WarcStreamIterator]] (peak memory O(largest record),
    * never the decompressed shard). Totality as [[parseWarc]]. */
  def recordIterator(payload: Array[Byte]): Iterator[WarcRecord] =
    if (payload == null) Iterator.empty // null ≡ unparseable: no rows
    else if (!isGzip(payload)) new WarcArrayIterator(payload)
    else {
      try new WarcStreamIterator(
        new GZIPInputStream(new ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => Iterator.empty }
    }

  /** Does the payload parse to at least one record? Equivalent to
    * `recordIterator(payload).hasNext` but CLOSES the gzip stream (and
    * its native Inflater) immediately instead of abandoning it to
    * finalization — the classification probe [[quarantine]] runs once
    * per scanned file. */
  def firstRecordExists(payload: Array[Byte]): Boolean =
    recordIterator(payload) match {
      case s: WarcStreamIterator => try s.hasNext finally s.close()
      case it                    => it.hasNext
    }

  /** Parse a `.warc` or `.warc.gz` payload into its records. TOTAL:
    * returns the longest valid record prefix — a malformed version
    * line, header block, bad Content-Length, truncated block, or
    * corrupt gzip data ends the walk with the records already parsed
    * (a truncated crawl shard yields its complete records, a foreign
    * payload yields Nil). Materializes the record SEQ (that is what
    * the caller asked for) but never the decompressed shard — built
    * on [[recordIterator]]. */
  def parseWarc(payload: Array[Byte]): Seq[WarcRecord] =
    recordIterator(payload).toVector

  /** One record at `start` within `bytes[0, limit)`; returns (record,
    * offset past its CRLF CRLF separator). Offsets advance in Long so
    * a crafted Content-Length near Int.MaxValue cannot wrap the bounds
    * check (the same subtraction-phrased guard discipline as the
    * container parsers). `limit` (not bytes.length) bounds every read
    * so the streaming iterator can parse a partially-filled buffer. */
  private def parseOne(bytes: Array[Byte], start: Int, limit: Int,
                       idx: Int): Option[(WarcRecord, Long)] = {
    // version line
    val vEnd = lineEnd(bytes, start, limit)
    if (vEnd < 0) return None
    val version = new String(bytes, start, vEnd - start, UTF_8)
    if (!version.startsWith("WARC/")) return None
    // header lines until the empty line; continuation lines (leading
    // SP/HT) fold into the previous header's value per the spec
    var off = vEnd + 2
    var headers = List.empty[(String, String)]
    var done = false
    while (!done) {
      val e = lineEnd(bytes, off, limit)
      if (e < 0) return None
      if (e == off) { done = true; off = e + 2 }
      else {
        val line = new String(bytes, off, e - off, UTF_8)
        if ((line.charAt(0) == ' ' || line.charAt(0) == '\t') &&
            headers.nonEmpty) {
          val (k, v) = headers.head
          headers = (k, v + " " + line.trim) :: headers.tail
        } else {
          val colon = line.indexOf(':')
          if (colon <= 0) return None
          headers =
            (line.substring(0, colon).trim.toLowerCase,
              line.substring(colon + 1).trim) :: headers
        }
        off = e + 2
      }
    }
    // first occurrence of a dup name wins (toMap alone would keep the
    // last — a smuggled second Content-Length could then reframe the
    // record past the one the walk validated)
    val hmap = headers.reverse.foldLeft(Map.empty[String, String]) {
      case (m, (k, v)) => if (m.contains(k)) m else m.updated(k, v)
    }
    val len =
      try hmap.get("content-length").map(_.toLong).getOrElse(return None)
      catch { case _: NumberFormatException => return None }
    if (len < 0 || len > limit - off) return None
    val block = java.util.Arrays.copyOfRange(bytes, off, off + len.toInt)
    // the mandatory CRLF CRLF record separator
    val sep = off + len
    if (sep + 4 > limit ||
        bytes(sep.toInt) != '\r' || bytes(sep.toInt + 1) != '\n' ||
        bytes(sep.toInt + 2) != '\r' || bytes(sep.toInt + 3) != '\n')
      return None
    val rec = WarcRecord(
      recIdx = idx,
      warcType = hmap.getOrElse("warc-type", ""),
      recordId = hmap.getOrElse("warc-record-id", ""),
      targetUri = hmap.get("warc-target-uri"),
      date = hmap.getOrElse("warc-date", ""),
      contentType = hmap.getOrElse("content-type", ""),
      block = block,
      refersTo = hmap.get("warc-refers-to"),
      payloadDigest = hmap.get("warc-payload-digest"),
      profile = hmap.get("warc-profile"))
    Some((rec, sep + 4))
  }

  /** Index of the CR of the next CRLF at/after `from` (before `limit`);
    * -1 when no CRLF terminates the line (truncated header). Lone CR or
    * LF inside a header line is malformed per spec and never matches. */
  private def lineEnd(bytes: Array[Byte], from: Int, limit: Int): Int = {
    var i = from
    while (i + 1 < limit) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Split an HTTP message block into (status line, headers, body) —
    * the step that turns a `response` record's block into the HTML a
    * text pipeline consumes. None when no CRLF CRLF boundary exists
    * or the first line is not an HTTP status line. */
  def httpParts(block: Array[Byte]): Option[(Int, String, Array[Byte])] = {
    var i = 0
    var bodyAt = -1
    while (bodyAt < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
          block(i + 2) == '\r' && block(i + 3) == '\n') bodyAt = i + 4
      i += 1
    }
    if (bodyAt < 0) return None
    val head = new String(block, 0, bodyAt - 4, UTF_8)
    val firstLine = head.takeWhile(_ != '\r')
    if (!firstLine.startsWith("HTTP/")) return None
    val parts = firstLine.split(" ", 3)
    if (parts.length < 2) return None
    val status =
      try parts(1).toInt catch { case _: NumberFormatException => return None }
    val headerBlock = head.drop(firstLine.length + 2)
    Some((status, headerBlock, java.util.Arrays.copyOfRange(
      block, bodyAt, block.length)))
  }

  /** One exploded record row of [[recordTable]]. Slim by design: the
    * raw block travels once (this is the parse boundary), downstream
    * shuffles carry only the typed fields they select. */
  final case class WarcRecordRow(
      file_id: Long,
      rec_idx: Int,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      date_s: String,
      content_type: String,
      content_length: Long,
      http_status: Option[Int],
      http_content_type: Option[String],
      body: Array[Byte],
      refers_to: Option[String],
      payload_digest: Option[String],
      profile: Option[String],
      location: Option[String])

  /** The Content-Type header value of an HTTP header block (first
    * occurrence, case-insensitive name), or None — the charset source
    * for body decoding ([[graft.ops.HtmlExprs.charsetDecode]]). */
  def httpContentType(headerBlock: String): Option[String] =
    httpHeader(headerBlock, "content-type")

  /** First occurrence of an HTTP header by case-insensitive name, or
    * None — shared by Content-Type (charset source) and Location (the
    * 3xx redirect target [[recordTable]] surfaces). */
  def httpHeader(headerBlock: String, name: String): Option[String] =
    headerBlock.split("\r\n").iterator
      .map(_.split(":", 2))
      .collectFirst {
        case Array(k, v) if k.trim.equalsIgnoreCase(name) => v.trim
      }

  /** WET-style export — the WRITE side of the crawl surface: pack each
    * partition's rows into `conversion` records (text/plain — what
    * Common Crawl's .wet text extracts are) and write real
    * `.warc[.gz]` shard files under `path`, at most `maxRecordsPerFile`
    * records per file. Returns after writing `path/_manifest` (parquet:
    * file, n_records, bytes) — the loader's pre-consume check, same
    * convention as [[graft.sinks.Sinks.shardedExport]]. With
    * `writeCdx = true` the export also ships `path/_cdx` (parquet: one
    * row per record with its retrieval span, keyed by file name) — the
    * web-archive convention of publishing the index WITH the crawl;
    * the same task that wrote a file indexes the bytes it wrote, so
    * the shipped index can never drift from the shipped files.
    *
    * Scale shape: one narrow pass — each task serializes its own rows
    * and writes its own files (no shuffle, no driver bytes); gzip is
    * per-record-member, so every emitted file is independently
    * splittable at member boundaries. File names are deterministic
    * (`wet-<partition>-<seq>`), so a retried task overwrites its own
    * attempt rather than duplicating records. The destination is
    * cleared up front (overwrite semantics — partial output from a
    * previous crashed export cannot mix in).
    */
  def wetExport(spark: SparkSession, docs: DataFrame, id: Column,
                uri: Column, date: Column, text: Column, path: String,
                maxRecordsPerFile: Int = 1000,
                gzip: Boolean = true,
                writeCdx: Boolean = false): Unit = {
    import spark.implicits._
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val dfs = root.getFileSystem(hconf)
    if (dfs.exists(root)) dfs.delete(root, true)
    dfs.mkdirs(root)
    val ser = new org.apache.spark.util.SerializableConfiguration(hconf)
    val suffix = if (gzip) ".warc.gz" else ".warc"
    val manifest = docs
      .select(id.cast("long").as("i"), uri.cast("string").as("u"),
        date.cast("string").as("d"), text.cast("string").as("t"))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(ser.value)
        it.grouped(maxRecordsPerFile).zipWithIndex.map { case (chunk, seq) =>
          val recs = chunk.map { case (i, u, d, t) =>
            WarcSpecRec("conversion", s"<urn:uuid:conv-$i>", Option(u),
              if (d == null) "" else d, "text/plain",
              (if (t == null) "" else t).getBytes(UTF_8))
          }
          val bytes = if (gzip) buildWarcGz(recs) else buildWarc(recs)
          val name = f"wet-$pid%05d-$seq%04d$suffix"
          val out = fs.create(new org.apache.hadoop.fs.Path(path, name), true)
          try out.write(bytes) finally out.close()
          // index the bytes just written, in the SAME task: the shipped
          // index can never drift from the shipped files
          val cdx = if (writeCdx) cdxEntries(bytes).map(e =>
            (e.recIdx, e.offset, e.length, e.memberOrdinal, e.warcType,
              e.recordId, e.targetUri, e.date)) else Seq.empty
          (name, chunk.size.toLong, bytes.length.toLong, cdx)
        }
      }
      .toDF("file", "n_records", "bytes", "cdx")
    if (!writeCdx) {
      // writing the manifest is what executes the export (one pass: the
      // same task that wrote a file reports its counts — never a second
      // scan of `docs` that could disagree with the files)
      manifest.drop("cdx")
        .orderBy(org.apache.spark.sql.functions.col("file")).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_manifest")
    } else {
      // the export executes ONCE (eager checkpoint), then the manifest
      // and the shipped CDX are two cheap writes of the held result —
      // re-running the file-writing pass for the second artifact would
      // double the export work (deterministic names make it merely
      // wasteful, but a manifest/index pair must come from ONE run)
      val held = manifest.localCheckpoint(true)
      held.drop("cdx")
        .orderBy(org.apache.spark.sql.functions.col("file")).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_manifest")
      import org.apache.spark.sql.functions.{col => c, explode => ex}
      held.select(c("file"), ex(c("cdx")).as("e"))
        .select(c("file"),
          c("e._1").as("rec_idx"), c("e._2").as("offset"),
          c("e._3").as("length"), c("e._4").as("member_ord"),
          c("e._5").as("warc_type"), c("e._6").as("record_id"),
          c("e._7").as("target_uri"), c("e._8").as("date_s"))
        .write.mode("overwrite").parquet(s"$path/_cdx")
    }
  }

  /** The QUARANTINE side of [[recordTable]]'s contract: the file ids
    * whose payload yields ZERO parsed records (foreign bytes, corrupt
    * gzip at offset 0, a mangled first version line) — the same
    * dead-letter discipline as the CSV and JSONL readers, so corrupt
    * crawl shards route to re-fetch instead of silently vanishing.
    * ONE cheap narrow pass: classification needs only the FIRST
    * record's parse attempt ([[firstRecordExists]], which closes the
    * gzip stream it opens), never a full shard walk or a second join
    * against the exploded rows. */
  def quarantine(spark: SparkSession, files: DataFrame,
                 fileId: Column, payload: Column): DataFrame = {
    import spark.implicits._
    files.select(fileId.cast("long").as("f"), payload.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        if (firstRecordExists(bytes)) None else Some(id)
      })
      .toDF("file_id")
  }

  // ───────────────────────── CDX byte-offset index ──────────────────
  // Random-access archive retrieval — the capability web archives ship
  // as CDX/CDXJ next to every `.warc.gz`: one index row per record
  // carrying the byte span of its gzip MEMBER, so a reader fetches ONE
  // record with a ranged read + a single-member gunzip instead of
  // streaming the shard from byte 0. At 100 TB this is the difference
  // between "re-extract one page" costing a 1 GB shard scan and
  // costing a ~10 KB ranged fetch; it is also what makes the standing
  // WARC corpus a random-access TABLE (index once, point-read forever)
  // rather than a scan-only log.

  /** One CDX index row. `offset`/`length` address the record's byte
    * span in the STORED payload: the gzip member for `.warc.gz` (the
    * Common Crawl one-record-per-member convention), the record's own
    * bytes for plain `.warc`. `memberOrdinal` is the record's ordinal
    * WITHIN its span — 0 for spec-conforming archives; a
    * non-conforming writer that packs several records into one member
    * still indexes correctly ([[fetchRecord]] skips `memberOrdinal`
    * records after decompressing the span). */
  final case class CdxEntry(
      recIdx: Int,
      offset: Long,
      length: Long,
      memberOrdinal: Int,
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      date: String)

  /** Length of the gzip member HEADER at `o` (RFC 1952: 10 fixed bytes
    * plus optional FEXTRA/FNAME/FCOMMENT/FHCRC fields), or -1 when the
    * bytes at `o` are not a well-formed deflate-method gzip header. */
  private def gzipHeaderLen(b: Array[Byte], o: Int): Int = {
    if (o + 10 > b.length) return -1
    if ((b(o) & 0xFF) != 0x1F || (b(o + 1) & 0xFF) != 0x8B ||
        b(o + 2) != 8) return -1
    val flg = b(o + 3) & 0xFF
    var p = o + 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte little-endian length + bytes
      if (p + 2 > b.length) return -1
      p += 2 + ((b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8))
      if (p > b.length) return -1
    }
    if ((flg & 8) != 0) { // FNAME: NUL-terminated
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return -1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return -1
      p += 1
    }
    if ((flg & 2) != 0) { // FHCRC: 2 bytes
      p += 2
      if (p > b.length) return -1
    }
    p - o
  }

  /** Walk the gzip members of `payload`: (offset, length, decompressed
    * bytes) per member, in file order. TOTAL — a malformed header,
    * corrupt deflate data, a truncated trailer, or a member whose
    * inflation exceeds [[MaxAssemblyBytes]] (a decompression bomb is
    * not a member, it's an attack) ends the walk with the members
    * already yielded. Each member inflates exactly once, through a
    * raw `Inflater(nowrap)` so the compressed-byte count that DEFINES
    * the member's span is read off the inflater itself. */
  private def memberWalk(payload: Array[Byte])
      : Iterator[(Long, Long, Array[Byte])] =
    new Iterator[(Long, Long, Array[Byte])] {
      private var off = 0
      private var nextM: (Long, Long, Array[Byte]) = null
      private var done = false
      private def advance(): Unit =
        if (nextM == null && !done) {
          if (off >= payload.length) { done = true; return }
          val hl = gzipHeaderLen(payload, off)
          if (hl < 0) { done = true; return }
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(payload, off + hl, payload.length - off - hl)
            val out = new ByteArrayOutputStream()
            val chunk = new Array[Byte](64 * 1024)
            var ok = true
            while (ok && !inf.finished()) {
              val n =
                try inf.inflate(chunk)
                catch { case _: java.util.zip.DataFormatException =>
                  ok = false; 0 }
              if (n > 0) {
                if (out.size().toLong + n > MaxAssemblyBytes) ok = false
                else out.write(chunk, 0, n)
              } else if (ok && !inf.finished()) {
                // inflate()==0 while unfinished ⇒ needsInput (we already
                // supplied every remaining byte: truncated stream) or a
                // preset-dictionary request gzip never makes — malformed
                ok = false
              }
            }
            if (!ok) { done = true; return }
            // 8-byte CRC32+ISIZE trailer closes the member — and must
            // VERIFY: the CRC-checked stream readers (fetchRecord,
            // recordTable via GZIPInputStream) reject a corrupt member,
            // so an index that accepted it would claim records the
            // reader can never fetch and rec_idx numbering would
            // diverge. A mismatch is end-of-walk, keeping the index's
            // totality boundary identical to the stream reader's.
            val end = off.toLong + hl + inf.getBytesRead + 8
            if (end > payload.length) { done = true; return }
            val inflated = out.toByteArray
            val crc = new java.util.zip.CRC32()
            crc.update(inflated)
            val t = end.toInt - 8
            def le32(p: Int): Long =
              (payload(p) & 0xFFL) | ((payload(p + 1) & 0xFFL) << 8) |
                ((payload(p + 2) & 0xFFL) << 16) |
                ((payload(p + 3) & 0xFFL) << 24)
            if (le32(t) != crc.getValue ||
                le32(t + 4) != (inflated.length & 0xFFFFFFFFL)) {
              done = true; return
            }
            nextM = (off.toLong, end - off, inflated)
            off = end.toInt
          } finally inf.end()
        }
      override def hasNext: Boolean = { advance(); nextM != null }
      override def next(): (Long, Long, Array[Byte]) = {
        advance()
        if (nextM == null) throw new NoSuchElementException("member walk")
        val m = nextM
        nextM = null
        m
      }
    }

  /** The CDX index of one payload: one entry per record, byte spans as
    * documented on [[CdxEntry]]. TOTAL (longest valid prefix, the
    * [[parseWarc]] convention): a malformed member / record ends the
    * walk with the entries already indexed — including a member that
    * inflates but parses to zero records, which marks the archive
    * malformed AT that span rather than silently skipping bytes the
    * index would then misaddress. */
  def cdxEntries(payload: Array[Byte]): Seq[CdxEntry] = {
    if (payload == null) return Seq.empty
    val out = Seq.newBuilder[CdxEntry]
    var idx = 0
    if (isGzip(payload)) {
      val members = memberWalk(payload)
      var halted = false
      while (!halted && members.hasNext) {
        val (off, len, bytes) = members.next()
        val recs = parseWarc(bytes)
        if (recs.isEmpty) halted = true
        else recs.zipWithIndex.foreach { case (r, mo) =>
          out += CdxEntry(idx, off, len, mo, r.warcType, r.recordId,
            r.targetUri, r.date)
          idx += 1
        }
      }
    } else {
      var pos = 0L
      var halted = false
      while (!halted && pos < payload.length) {
        parseOne(payload, pos.toInt, payload.length, idx) match {
          case Some((r, next)) =>
            out += CdxEntry(idx, pos, next - pos, 0, r.warcType,
              r.recordId, r.targetUri, r.date)
            idx += 1
            pos = next
          case None => halted = true
        }
      }
    }
    out.result()
  }

  /** Random-access record retrieval: decode ONLY the `[offset,
    * offset+length)` span — the read a CDX consumer issues as an HTTP
    * range request — and return its `memberOrdinal`-th record. None
    * when the span is out of bounds or does not parse (a stale index
    * against a rewritten shard degrades to a classifiable miss, never
    * a task failure). Gzip spans go through the CRC-verified
    * [[memberWalk]] — the SAME totality boundary [[cdxEntries]]
    * indexes by, so the index can never claim a record this reader
    * declines, and this reader never hands back bytes from a member
    * whose trailer check fails. */
  def fetchRecord(payload: Array[Byte], offset: Long, length: Long,
                  memberOrdinal: Int = 0): Option[WarcRecord] = {
    if (payload == null || offset < 0 || length <= 0 ||
        memberOrdinal < 0 || offset + length > payload.length) return None
    val slice = java.util.Arrays.copyOfRange(
      payload, offset.toInt, (offset + length).toInt)
    def pick(i: Iterator[WarcRecord]): Option[WarcRecord] = {
      var skip = memberOrdinal
      while (skip > 0 && i.hasNext) { i.next(); skip -= 1 }
      if (i.hasNext) Some(i.next()) else None
    }
    if (isGzip(slice))
      pick(memberWalk(slice).flatMap { case (_, _, bytes) =>
        parseWarc(bytes)
      })
    else recordIterator(slice) match {
      case s: WarcStreamIterator => try pick(s) finally s.close()
      case i                     => pick(i)
    }
  }

  /** Catalyst bridge for the SQL surface ([[WarcCdxExpr]]): the CDX
    * entries as array&lt;struct&gt; InternalRows. */
  def cdxRowsOf(payload: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cdxEntries(payload).map { e =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](e.recIdx, e.offset, e.length, e.memberOrdinal,
            UTF8String.fromString(e.warcType),
            UTF8String.fromString(e.recordId),
            e.targetUri.map(UTF8String.fromString).orNull,
            UTF8String.fromString(e.date)))
      }.toArray[Any])
  }

  /** One row of [[cdxIndex]]. */
  final case class CdxRow(
      file_id: Long,
      rec_idx: Int,
      offset: Long,
      length: Long,
      member_ord: Int,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      date_s: String)

  /** Spark surface: the CDX index of a (file id, payload) frame — one
    * narrow pass ([[recordTable]]'s shape), one row per record with
    * its retrieval span. Persist next to the shards and every later
    * point-read is an O(record) ranged fetch through [[fetchRecord]]
    * instead of an O(shard) stream. */
  def cdxIndex(spark: SparkSession, files: DataFrame,
               fileId: Column, payload: Column): DataFrame = {
    import spark.implicits._
    files.select(fileId.cast("long").as("f"), payload.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        cdxEntries(bytes).map(e => CdxRow(id, e.recIdx, e.offset,
          e.length, e.memberOrdinal, e.warcType, e.recordId, e.targetUri,
          e.date))
      })
      .toDF()
  }

  /** One row of [[fetchSpans]]: the requested span plus the record it
    * retrieved. `found=false` (null fields) marks a stale span — the
    * request survives as a classifiable row, never a task failure. */
  final case class FetchedRecord(
      file_id: Long,
      offset: Long,
      member_ord: Int,
      found: Boolean,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      date_s: String,
      block: Array[Byte])

  /** Bulk point-read through a CDX index — the "fetch these 10k
    * records out of a 100 TB archive" workload: `requests` carries
    * (file_id, offset, length, member_ord) rows (typically a filtered
    * [[cdxIndex]]), and each requested span is decoded INDEPENDENTLY
    * via [[fetchRecord]] — never a full-shard walk.
    *
    * Scale shape: the request set collapses to one slim row per
    * touched file (collect_list of its spans) and — being index rows,
    * tiny next to shard payloads — BROADCASTS against the archive
    * frame, so the shards never shuffle, and every un-requested
    * shard's row drops at the join without decoding a byte of it. The
    * file SCAN is pruned too: the touched file ids (bounded by
    * `maxPruneFiles` — the same order as the broadcast the default
    * plan already assumes) become an `isin` predicate the source
    * pushes down, so a 10-span request over a many-shard archive lists
    * and reads only the touched shards. A request set touching more
    * files than the cap plans a broadcast left-semi join on the
    * touched-file frame instead (logged) — a literal predicate that
    * big stresses the analyzer; the semi-join keeps untouched shards
    * from decoding without any driver-side list at all. Set
    * `broadcastRequests = false` for a shuffle-hash plan when the
    * request list itself is corpus-scale (the semi-join then shuffles
    * instead of broadcasting, same slim ids).
    *
    * TOTAL over a stale index: a span inside a present file that no
    * longer decodes, a request whose file id is absent from `files`
    * entirely (deleted/renamed shard), AND a request with a null /
    * uncastable field all come back as `found = false` rows — every
    * request row is accounted for in the output, never silently
    * dropped, never a task failure. */
  def fetchSpans(spark: SparkSession, files: DataFrame, fileId: Column,
                 payload: Column, requests: DataFrame,
                 broadcastRequests: Boolean = true,
                 maxPruneFiles: Int = 100000): DataFrame = {
    import spark.implicits._
    val reqAll = requests
      .select(col("file_id").cast("long").as("file_id"),
        col("offset").cast("long").as("_1"),
        col("length").cast("long").as("_2"),
        col("member_ord").cast("int").as("_3"))
      .localCheckpoint(true) // consumed by the valid AND invalid sides
    // a request any of whose fields is null (or cast-failed) can never
    // address a span: it degrades to a found=false row like every
    // other unfetchable request — never an NPE in the prune collect,
    // never a null-keyed join row
    val invalid = reqAll
      .where(col("file_id").isNull || col("_1").isNull ||
        col("_2").isNull || col("_3").isNull)
      .select(col("file_id"), col("_1").as("offset"),
        col("_3").as("member_ord"), lit(false).as("found"),
        lit(null).cast("string").as("warc_type"),
        lit(null).cast("string").as("record_id"),
        lit(null).cast("string").as("target_uri"),
        lit(null).cast("string").as("date_s"),
        lit(null).cast("binary").as("block"))
    val req0 = reqAll
      .where(col("file_id").isNotNull && col("_1").isNotNull &&
        col("_2").isNotNull && col("_3").isNotNull)
      .groupBy(col("file_id"))
      .agg(collect_list(struct(col("_1"), col("_2"), col("_3")))
        .as("spans"))
      .localCheckpoint(true) // consumed by the fetch join AND the
                             // missing-file accounting
    val req = if (broadcastRequests) broadcast(req0) else req0
    val filesSel =
      files.select(fileId.cast("long").as("file_id"), payload.as("p"))
    // scan pruning, two regimes: a SMALL touched-file set becomes an
    // `isin` predicate the source pushes down (lists and reads only the
    // touched shards); past `maxPruneFiles` a literal that big stresses
    // the analyzer, so the filter becomes a left-semi join on the
    // touched-file frame instead — no scan pushdown, but untouched
    // shards still drop at the join without decoding a byte, and
    // NOTHING collects to the driver. The cap+1 collect detects an
    // over-cap set without counting it.
    val touchedIds = req0.select(col("file_id"))
    val touched = touchedIds
      .limit(maxPruneFiles + 1).collect().map(_.getLong(0))
    val pruned =
      if (touched.length <= maxPruneFiles)
        filesSel.where(col("file_id").isin(touched.toIndexedSeq: _*))
      else {
        log.warn(s"fetchSpans: request touches " +
          s"${touched.length}+ files (> maxPruneFiles=$maxPruneFiles) " +
          "— planning a semi-join filter instead of a literal predicate")
        // one slim row per touched file — broadcast-scale by the same
        // assumption the fetch join already makes; honor the caller's
        // corpus-scale escape hatch
        filesSel.join(
          if (broadcastRequests) broadcast(touchedIds) else touchedIds,
          Seq("file_id"), "left_semi")
      }
    val fetched = pruned
      .join(req, Seq("file_id"))
      .as[(Long, Array[Byte], Seq[(Long, Long, Int)])]
      .mapPartitions(_.flatMap { case (id, bytes, spans) =>
        spans.sorted.iterator.map { case (off, len, ord) =>
          fetchRecord(bytes, off, len, ord) match {
            case Some(r) => FetchedRecord(id, off, ord, found = true,
              r.warcType, r.recordId, r.targetUri, r.date, r.block)
            case None => FetchedRecord(id, off, ord, found = false,
              null, null, None, null, null)
          }
        }
      })
      .toDF()
    // requests whose file id is absent from the archive frame: the
    // stale-index contract degrades them to found=false rows, same as
    // a stale span inside a present file. Slim anti-join — one row per
    // touched file against the pruned scan's id column.
    val absent = req0
      .join(pruned.select(col("file_id")), Seq("file_id"), "left_anti")
      .select(col("file_id"), explode(col("spans")).as("s"))
      .select(col("file_id"), col("s._1").as("offset"),
        col("s._3").as("member_ord"), lit(false).as("found"),
        lit(null).cast("string").as("warc_type"),
        lit(null).cast("string").as("record_id"),
        lit(null).cast("string").as("target_uri"),
        lit(null).cast("string").as("date_s"),
        lit(null).cast("binary").as("block"))
    fetched.unionByName(absent).unionByName(invalid)
  }

  /** Spark surface: explode a (file id, WARC payload) frame into one
    * row per record — the crawl-shard → document boundary. Narrow
    * (mapPartitions, no shuffle); plain and gzip shards mix freely in
    * one frame. `http_status`/`body` are the HTTP split for `response`
    * records; for every other record type `body` is the raw block.
    * An unparseable payload contributes no rows (upstream keeps the
    * file id; anti-join to quarantine, as with corrupt CSV lines).
    * Rows STREAM out of [[recordIterator]] — a gzipped shard
    * decompresses member-by-member as downstream consumes, so task
    * memory is O(largest record), not O(decompressed shard). */
  def recordTable(spark: SparkSession, files: DataFrame,
                  fileId: Column, payload: Column): DataFrame = {
    import spark.implicits._
    files.select(fileId.cast("long").as("f"), payload.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        recordIterator(bytes).map { r =>
          val http =
            if (r.warcType == "response") httpParts(r.block) else None
          WarcRecordRow(id, r.recIdx, r.warcType, r.recordId, r.targetUri,
            r.date, r.contentType, r.block.length.toLong,
            http.map(_._1), http.flatMap(h => httpContentType(h._2)),
            http.map(_._3).getOrElse(r.block),
            r.refersTo, r.payloadDigest, r.profile,
            // 3xx chains can't map to final URLs without this header
            http.flatMap(h => httpHeader(h._2, "location")))
        }
      })
      .toDF()
  }
}

/** Codegen expression over the CDX kernel — `warc_cdx(payload)` in
  * SQL: one index struct per record with its retrieval span, the
  * [[Warc.cdxEntries]] totality (a malformed archive yields its valid
  * prefix, never a throw). Registered by
  * [[graft.ops.GraftFunctions]]. */
case class WarcCdxExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rec_idx", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("member_ord", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("date_s", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "warc_cdx"
  override def nullSafeEval(in: Any): Any =
    Warc.cdxRowsOf(in.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ingest.Warc.cdxRowsOf($c);")
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = c)
}
