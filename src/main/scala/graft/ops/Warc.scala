package graft.ops

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream, PushbackInputStream}
import java.util.Locale
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WARC / WET record parsing — the format web corpora actually arrive
  * in (Common Crawl ships `.warc.gz` response shards and `.wet.gz`
  * extracted-text shards; every crawl-derived training set starts by
  * walking these records). Spark has no reader for it; this is the
  * pure-JVM one, same stance as [[Multimodal]]: a REAL parser of the
  * container grammar (WARC/1.0-1.1, ISO 28500), no libraries beyond
  * `java.util.zip`.
  *
  * Grammar walked per record: a `WARC/x.y` version line; CRLF header
  * lines (`Name: value`, names case-insensitive, RFC-822-style
  * continuation lines folded) up to a blank line; exactly
  * `Content-Length` payload BYTES (the payload is opaque — it may
  * contain `\r\n\r\nWARC/1.0` freely, so walking is length-driven,
  * never scan-driven); then the two-CRLF record separator. Gzip input
  * is sniffed by magic bytes and decompressed transparently —
  * including the concatenated-member layout (`.warc.gz` files are one
  * gzip MEMBER per record precisely so readers can resume
  * mid-shard; `GZIPInputStream` reads members back-to-back).
  *
  * Scale shape: [[WarcReader]] is a pull parser over an `InputStream`
  * — one record in memory at a time, so a 1 GB shard streams through
  * an executor task in constant memory (the column-level ops here
  * parse bounded in-row blobs). Failure stance
  * matches the module: lenient parsing keeps every well-formed record
  * and stops at the first malformed byte — [[audit]] is the triage
  * metric that says which blobs had leftovers and why; `strict=true`
  * throws with the record ordinal instead.
  */
object Warc {

  /** One parsed record of an input blob: `id` is the blob's id, and
    * `rec_idx` its 0-based ordinal within the blob. Header fields are
    * null when the record omits them ([[records]] keeps ALL record
    * types — filter on `warc_type` downstream).
    */
  final case class WarcRecord(
      id: Long, rec_idx: Int, warc_type: String, target_uri: String,
      warc_date: String, record_id: String, content_type: String,
      content_length: Long, payload: Array[Byte])

  /** Per-blob triage row: `ok=false` means a malformed tail was
    * dropped after `n_records` good records; `error` says why.
    */
  final case class WarcAudit(
      id: Long, n_records: Int, ok: Boolean, error: String)

  /** One HTTP response payload split out of a `response` record. A
    * payload that does not parse as an HTTP message surfaces with
    * `http_status = -1`, null mime, and the UNSPLIT payload as body —
    * nothing is silently lost (filter on the status downstream).
    */
  final case class WarcHttp(
      id: Long, rec_idx: Int, target_uri: String, http_status: Int,
      mime: String, body: Array[Byte])

  final class WarcFormatException(msg: String) extends RuntimeException(msg)

  /** Fields of one record, pre-ordinal (see [[WarcReader.next]]). */
  final case class Rec(
      warcType: Option[String], targetUri: Option[String],
      warcDate: Option[String], recordId: Option[String],
      contentType: Option[String], contentLength: Long,
      payload: Array[Byte])

  /** A header "line" longer than this is binary garbage, not WARC. */
  private val MaxHeaderLine = 1 << 16
  private val MaxHeaders = 256

  /** available()-exact wrapper for the gzip path.
    * `GZIPInputStream` only looks for the NEXT concatenated member
    * when `available() > 0` at a member trailer — and the
    * `InputStream` contract lets a wrapped filesystem stream report 0
    * even when bytes remain (some Hadoop FS streams do), which would
    * silently treat every remaining member of a one-member-per-record
    * shard as clean EOF: unauditable record loss. Peeking one byte
    * through the pushback stream gives an exact answer; at true EOF
    * the member probe still ends cleanly (GZIPInputStream treats a
    * failed next-header read as end of stream).
    */
  private final class PeekAvailable(pb: PushbackInputStream)
      extends java.io.FilterInputStream(pb) {
    override def available(): Int = {
      val a = super.available()
      if (a > 0) a
      else {
        val b = pb.read()
        if (b < 0) 0 else { pb.unread(b); 1 }
      }
    }
  }

  /** Pull parser: `next()` yields records until clean EOF (`None`) or
    * a malformed byte — lenient mode records [[error]] and stops;
    * strict mode throws. Stream-level failures (a shard truncated
    * MID-GZIP-MEMBER, a corrupt gzip header, a CRC-mismatch trailer)
    * follow the same rule: they are parse errors, never uncaught
    * exceptions, or lenient mode could not survive exactly the
    * truncated shards it exists for. `materializePayload=false`
    * consumes payload bytes without allocating them (the
    * column-pruned file-scan path). Callers should [[close]] when
    * done — the gzip path holds a native Inflater that should not
    * wait for GC.
    */
  final class WarcReader(raw: InputStream, strict: Boolean,
      materializePayload: Boolean = true) {

    private var recs = 0
    private var failure: Option[String] = None
    private var eof = false

    private val in: InputStream =
      try {
        val pb = new PushbackInputStream(new BufferedInputStream(raw), 2)
        val b0 = pb.read()
        val b1 = pb.read()
        if (b1 >= 0) pb.unread(b1)
        if (b0 >= 0) pb.unread(b0)
        if (b0 == 0x1f && b1 == 0x8b)
          new GZIPInputStream(new PeekAvailable(pb)) // reads the header here
        else pb
      } catch {
        case e: java.io.IOException =>
          val msg = s"record 0: unreadable stream: ${e.getMessage}"
          if (strict) throw new WarcFormatException(msg)
          failure = Some(msg)
          eof = true
          null
      }

    /** Releases the stream chain (and the gzip Inflater's native
      * buffers); safe to call repeatedly.
      */
    def close(): Unit = if (in != null) in.close()

    /** Why parsing stopped early, if it did (lenient mode only). */
    def error: Option[String] = failure

    private def fail(msg: String): None.type = {
      val full = s"record $recs: $msg"
      if (strict) throw new WarcFormatException(full)
      failure = Some(full)
      eof = true
      None
    }

    /** One line's bytes without the terminator; null at EOF. Accepts
      * both CRLF and bare LF (real crawls contain both).
      */
    private def readLineBytes(): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(80)
      var c = in.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') {
        out.write(c)
        if (out.size > MaxHeaderLine)
          return Array.fill(MaxHeaderLine + 1)('x'.toByte) // caller rejects
        c = in.read()
      }
      val b = out.toByteArray
      if (b.nonEmpty && b(b.length - 1) == '\r') b.dropRight(1) else b
    }

    private def readFully(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        if (r < 0) return null
        off += r
      }
      b
    }

    private def skipFully(n: Int): Boolean = {
      var left = n.toLong
      val scratch = new Array[Byte](math.min(n, 1 << 16).max(1))
      while (left > 0) {
        val r = in.read(scratch, 0, math.min(left, scratch.length.toLong).toInt)
        if (r < 0) return false
        left -= r
      }
      true
    }

    def next(): Option[Rec] = {
      if (eof) return None
      try nextImpl()
      catch {
        // fail() in strict mode — pass through untouched
        case e: WarcFormatException => throw e
        // gzip truncation/corruption surfaces as EOFException or
        // ZipException from the inflater, NOT as read() < 0 — route it
        // through the same lenient-stop / strict-throw discipline
        case e: java.io.IOException => fail(s"stream error: ${e.getMessage}")
      }
    }

    private def nextImpl(): Option[Rec] = {
      // Skip inter-record blank lines until the version line.
      var line = readLineBytes()
      while (line != null && line.isEmpty) line = readLineBytes()
      if (line == null) { eof = true; return None }
      if (line.length > MaxHeaderLine)
        return fail("header line exceeds 64 KiB — not a WARC stream")
      val version = new String(line, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (!version.startsWith("WARC/"))
        return fail(s"expected WARC/ version line, got '${version.take(40)}'")

      // Header block: Name: value, continuation lines folded.
      val headers = scala.collection.mutable.LinkedHashMap[String, String]()
      var lastName: String = null
      var h = readLineBytes()
      var n = 0
      while (h != null && h.nonEmpty) {
        if (h.length > MaxHeaderLine) return fail("oversized header line")
        n += 1
        if (n > MaxHeaders) return fail(s"more than $MaxHeaders headers")
        val s = new String(h, java.nio.charset.StandardCharsets.ISO_8859_1)
        if (s.charAt(0) == ' ' || s.charAt(0) == '\t') {
          if (lastName == null) return fail("continuation line before any header")
          headers(lastName) = headers(lastName) + " " + s.trim
        } else {
          val colon = s.indexOf(':')
          if (colon <= 0) return fail(s"malformed header '${s.take(40)}'")
          lastName = s.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          headers(lastName) = s.substring(colon + 1).trim
        }
        h = readLineBytes()
      }
      if (h == null) return fail("EOF inside header block")

      val len = headers.get("content-length") match {
        case None => return fail("missing Content-Length")
        case Some(v) =>
          val l = try v.toLong catch {
            case _: NumberFormatException =>
              return fail(s"unparseable Content-Length '$v'")
          }
          if (l < 0 || l > Int.MaxValue - 8)
            return fail(s"Content-Length $l out of range")
          l.toInt
      }

      val payload =
        if (materializePayload) {
          val p = readFully(len)
          if (p == null) return fail(s"EOF inside $len-byte payload")
          p
        } else {
          if (!skipFully(len)) return fail(s"EOF inside $len-byte payload")
          null
        }

      // Record separator: two line terminators. EOF right after the
      // last payload is tolerated (truncated-but-complete final
      // record); any non-empty trailer line means Content-Length was
      // wrong — the precise error, caught here rather than surfacing
      // as a bogus "expected WARC/" one record later.
      var t = readLineBytes()
      if (t != null && t.nonEmpty)
        return fail("payload not followed by blank separator — bad Content-Length")
      if (t != null) {
        t = readLineBytes()
        if (t != null && t.nonEmpty)
          return fail("missing second separator line after payload")
      }

      recs += 1
      Some(Rec(headers.get("warc-type"), headers.get("warc-target-uri"),
        headers.get("warc-date"), headers.get("warc-record-id"),
        headers.get("content-type"), len.toLong, payload))
    }
  }

  /** Parse a bounded in-memory blob: all records plus the lenient-stop
    * error, if any. (File-sized inputs should stream through
    * [[WarcReader]] instead.)
    */
  def parse(bytes: Array[Byte], strict: Boolean = false): (Vector[Rec], Option[String]) = {
    if (bytes == null) return (Vector.empty, Some("null blob"))
    val r = new WarcReader(new ByteArrayInputStream(bytes), strict)
    try {
      val out = Vector.newBuilder[Rec]
      var rec = r.next()
      while (rec.isDefined) { out += rec.get; rec = r.next() }
      (out.result(), r.error)
    } finally r.close() // gzip blobs: end the Inflater now, not at GC
  }

  private def idPayload(df: DataFrame, idCol: String,
      payloadCol: String): Dataset[(Long, Array[Byte])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .filter(col(idCol).cast("long").isNotNull)
      .as[(Long, Array[Byte])]
  }

  /** One row per record of each blob — every record type, headers as
    * nullable columns, payload opaque bytes. One iterator pass per
    * partition; malformed tails drop silently here (run [[audit]] for
    * the triage counts — same pattern as [[Mojibake.isMojibake]]).
    */
  def records(df: DataFrame, idCol: String, payloadCol: String): Dataset[WarcRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    idPayload(df, idCol, payloadCol).mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val (rs, _) = parse(bytes)
        rs.iterator.zipWithIndex.map { case (r, i) =>
          WarcRecord(id, i, r.warcType.orNull, r.targetUri.orNull,
            r.warcDate.orNull, r.recordId.orNull, r.contentType.orNull,
            r.contentLength, r.payload)
        }
      }
    }
  }

  /** Per-blob health: how many records parsed, whether the whole blob
    * was consumed, and the first error otherwise.
    * `sum(when(!ok, 1))` is the corpus-intake monitor.
    */
  def audit(df: DataFrame, idCol: String, payloadCol: String): Dataset[WarcAudit] = {
    val spark = df.sparkSession
    import spark.implicits._
    idPayload(df, idCol, payloadCol).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (rs, err) = parse(bytes)
        WarcAudit(id, rs.size, err.isEmpty, err.orNull)
      }
    }
  }

  /** Split one `application/http` response payload: (status, mime,
    * body). Unparseable → (-1, null, whole payload) — see [[WarcHttp]].
    */
  def splitHttpResponse(payload: Array[Byte]): (Int, String, Array[Byte]) = {
    val miss = (-1, null: String, payload)
    if (payload == null) return (-1, null, null)
    // Head/body boundary: first \r\n\r\n (or bare \n\n). The head is
    // ASCII by RFC 9112; decode it byte-transparently.
    var i = 0
    var split = -1
    var bodyAt = -1
    while (split < 0 && i < payload.length - 1) {
      if (payload(i) == '\n') {
        if (payload(i + 1) == '\n') { split = i; bodyAt = i + 2 }
        else if (i + 2 < payload.length && payload(i + 1) == '\r' &&
          payload(i + 2) == '\n') { split = i; bodyAt = i + 3 }
      }
      i += 1
    }
    if (split < 0) return miss
    val head = new String(payload, 0, split,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status = lines.headOption match {
      case Some(sl) if sl.startsWith("HTTP/") =>
        val parts = sl.split(" +")
        if (parts.length >= 2 && parts(1).forall(_.isDigit) &&
          parts(1).length == 3) parts(1).toInt
        else return miss
      case _ => return miss
    }
    val mime = lines.iterator.drop(1)
      .map { l => val c = l.indexOf(':'); if (c <= 0) ("", "") else
        (l.substring(0, c).trim.toLowerCase(Locale.ROOT), l.substring(c + 1).trim) }
      .collectFirst { case ("content-type", v) =>
        v.split(";")(0).trim.toLowerCase(Locale.ROOT) }
      .orNull
    (status, mime, java.util.Arrays.copyOfRange(payload, bodyAt, payload.length))
  }

  /** The crawl-intake projection: `response` records carrying an
    * `application/http` payload, split into (status, mime, body).
    * Composes with [[Html.extractText]] + [[Mojibake.fixMojibake]] for
    * the full raw-crawl → clean-text pipeline.
    */
  def httpResponses(df: DataFrame, idCol: String, payloadCol: String): Dataset[WarcHttp] = {
    val spark = df.sparkSession
    import spark.implicits._
    records(df, idCol, payloadCol)
      .filter(r => r.warc_type != null &&
        r.warc_type.equalsIgnoreCase("response") &&
        r.content_type != null &&
        r.content_type.toLowerCase(Locale.ROOT).startsWith("application/http"))
      .map { r =>
        val (status, mime, body) = splitHttpResponse(r.payload)
        WarcHttp(r.id, r.rec_idx, r.target_uri, status, mime, body)
      }
  }
}
