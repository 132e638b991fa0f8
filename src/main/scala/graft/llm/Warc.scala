package graft.llm

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Real WARC (ISO 28500) record-stream parsing — the wire format of
  * web-scale training corpora (Common Crawl ships as WARC): a file
  * is back-to-back records, each
  *
  * {{{
  * WARC/1.0<CRLF>
  * Header-Name: value<CRLF>   (repeated; WARC-Type, Content-Length,
  * <CRLF>                      WARC-Target-URI, ...)
  * <Content-Length bytes of block>
  * <CRLF><CRLF>               (record separator)
  * }}}
  *
  * The walk is CONTENT-LENGTH DRIVEN — the block is opaque bytes
  * (may itself contain "WARC/1.0"), so a scanner that searches for
  * magic instead of honoring the declared length corrupts on
  * adversarial bodies; the spec's one reliable invariant is the
  * header's own arithmetic. Fail-closed: a record with no
  * Content-Length, a non-numeric length, a missing version line, a
  * truncated block, or a malformed separator rejects the WHOLE
  * payload (None) — ingest pipelines quarantine broken objects, they
  * don't guess at resync.
  *
  * Scale note: production WARC corpora are millions of ~1 GB
  * objects — file-granular parallelism is the intended 100 TB shape
  * (Common Crawl's own layout), so the per-payload walk here is the
  * right grain; a single-giant-file splitter would follow the
  * [[graft.rdf.TurtleChunked]] tiling pattern if ever needed.
  *
  * Gzip: Common Crawl actually ships `.warc.gz` — one gzip MEMBER
  * per record, members back-to-back, so a range fetch can start at
  * any member boundary. [[parseAuto]] detects the gzip magic
  * (`1f 8b`, which can never open a plain record — those start
  * "WARC/"), inflates ALL members with the JDK's multi-member
  * `GZIPInputStream` walk, and feeds the SAME length-driven record
  * parser. Fail-closed like everything else here: a truncated
  * member, bad CRC, or trailing garbage rejects the whole payload.
  */
object Warc {

  /** Inflate a (possibly multi-member) gzip payload, None on any
    * corruption — a MANUAL member walk (RFC 1952 header fields →
    * raw-deflate `Inflater` → CRC32/ISIZE trailer), not the JDK's
    * `GZIPInputStream` member probe, because the JDK silently treats
    * unparseable bytes after a complete member as end-of-stream: in
    * a member-per-record `.warc.gz` a corrupted header of member
    * N>1 would silently drop every later record. Here the cursor
    * must land EXACTLY at payload end — trailing garbage, a
    * truncated member, a bad CRC, or a wrong ISIZE all reject the
    * whole payload. Bounded paranoia: output is capped at 1 GiB per
    * payload (the object grain) so a gzip bomb fails loudly instead
    * of OOMing an executor. */
  private[llm] def gunzipMembers(b: Array[Byte]): Option[Array[Byte]] = {
    val cap = 1 << 30
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8) // little-endian
    def u32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length.toLong * 4, 1 << 20).toInt)
    var i = 0
    while (i < b.length) {
      // --- RFC 1952 §2.3 member header ---
      if (i + 10 > b.length) return None
      val hdrStart = i // FHCRC digests the header from the magic on
      if (u8(i) != 0x1f || u8(i + 1) != 0x8b) return None
      if (u8(i + 2) != 8) return None // CM: deflate only
      val flg = u8(i + 3)
      if ((flg & 0xe0) != 0) return None // reserved bits must be 0
      i += 10 // magic, CM, FLG, MTIME(4), XFL, OS
      if ((flg & 0x04) != 0) { // FEXTRA
        if (i + 2 > b.length) return None
        val xlen = u16(i); i += 2 + xlen
        if (i > b.length) return None
      }
      if ((flg & 0x08) != 0) { // FNAME: zero-terminated
        while (i < b.length && b(i) != 0) i += 1
        if (i >= b.length) return None
        i += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT: zero-terminated
        while (i < b.length && b(i) != 0) i += 1
        if (i >= b.length) return None
        i += 1
      }
      if ((flg & 0x02) != 0) { // FHCRC: low 16 bits of the header's
        // CRC-32, stored LE — verified (the JDK does), not skipped
        if (i + 2 > b.length) return None
        val hc = new java.util.zip.CRC32
        hc.update(b, hdrStart, i - hdrStart)
        if ((hc.getValue & 0xffffL) != u16(i)) return None
        i += 2
      }
      // --- raw deflate body ---
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, i, b.length - i)
      val crc = new java.util.zip.CRC32
      var memberLen = 0L
      val buf = new Array[Byte](65536)
      var remaining = -1
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) return None // truncated/needs input
          out.write(buf, 0, n)
          crc.update(buf, 0, n)
          memberLen += n
          if (out.size > cap) return None
        }
        remaining = inf.getRemaining // read before end() frees state
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      i = b.length - remaining
      // --- trailer: CRC32 + ISIZE (mod 2^32), little-endian ---
      if (i + 8 > b.length) return None
      if (u32(i) != crc.getValue) return None
      if (u32(i + 4) != (memberLen & 0xffffffffL)) return None
      i += 8
    }
    if (out.size == 0) None else Some(out.toByteArray)
  }

  /** True when the payload opens with the gzip magic — unambiguous
    * against plain WARC, whose first bytes are ASCII "WARC/". */
  private[llm] def isGzip(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 && b(0) == 0x1f.toByte &&
      b(1) == 0x8b.toByte

  /** [[parse]] with transparent `.warc.gz` handling: gzip payloads
    * are member-walked and inflated first, plain payloads parse
    * directly. */
  def parseAuto(b: Array[Byte]): Option[Seq[Rec]] =
    if (isGzip(b)) gunzipMembers(b).flatMap(parse) else parse(b)

  /** One parsed record: (warcType, targetUri or null, declared
    * content length, block as string). */
  final case class Rec(warcType: String, uri: String, len: Long,
      body: String)

  private val Sep = "\r\n".getBytes("US-ASCII")

  /** Index of CRLF starting at or after `from`, or -1. */
  private def crlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** All records of a WARC payload, else None (fail-closed). */
  def parse(b: Array[Byte]): Option[Seq[Rec]] = {
    if (b == null || b.length == 0) return None
    val out = Seq.newBuilder[Rec]
    var i = 0
    while (i < b.length) {
      // version line
      val ve = crlf(b, i)
      if (ve < 0) return None
      val ver = new String(b, i, ve - i, "US-ASCII")
      if (ver != "WARC/1.0" && ver != "WARC/1.1") return None
      i = ve + 2
      // header lines until the empty line
      var wtype: String = null
      var uri: String = null
      var len = -1L
      var done = false
      while (!done) {
        val le = crlf(b, i)
        if (le < 0) return None
        if (le == i) { done = true; i += 2 }
        else {
          val line = new String(b, i, le - i, "US-ASCII")
          val c = line.indexOf(':')
          if (c <= 0) return None
          // Locale.ROOT: under a Turkish default locale 'URI'
          // lowercases to a dotless-i form and never matches
          val name = line.substring(0, c).trim
            .toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(c + 1).trim
          name match {
            case "warc-type" => wtype = value
            case "warc-target-uri" => uri = value
            case "content-length" =>
              // all-digits AND parseable: a 20-digit length is
              // malformed, not a NumberFormatException
              if (!value.forall(_.isDigit) || value.isEmpty ||
                value.length > 18) return None
              len = value.toLong
            case _ => () // other headers carried but unused
          }
          i = le + 2
        }
      }
      if (wtype == null || len < 0) return None
      if (i + len + 4 > b.length) return None // block + separator
      // Scope note: the block is decoded as UTF-8 TEXT — lossy for
      // binary blocks (images, gzip transfer bodies), which is fine
      // for the text/html-gated ingest chain this feeds; a binary
      // consumer would carry (offset, len) slices of `b` instead.
      val body = new String(b, i, len.toInt, "UTF-8")
      i += len.toInt
      // the mandatory two-CRLF record separator
      if (!(b(i) == Sep(0) && b(i + 1) == Sep(1) &&
        b(i + 2) == Sep(0) && b(i + 3) == Sep(1))) return None
      i += 4
      out += Rec(wtype, uri, len, body)
    }
    val recs = out.result()
    if (recs.isEmpty) None else Some(recs)
  }

  /** The `parseArray` result array. */
  val parseArrayType: ArrayType =
    ArrayType(StructType(Seq(
      StructField("rec_type", StringType, nullable = false),
      StructField("uri", StringType, nullable = true),
      StructField("content_length", LongType, nullable = false),
      StructField("body", StringType, nullable = false))),
      containsNull = false)

  /** [[parseAuto]] as Catalyst ArrayData of
    * (rec_type, uri, content_length, body) rows for the
    * `warc_records` codegen path — transparently
    * handles both `.warc` and member-per-record `.warc.gz`; null =
    * malformed payload. */
  def parseArray(b: Array[Byte]): ArrayData = parseAuto(b) match {
    case Some(recs) =>
      new GenericArrayData(recs.map(r => InternalRow(
        UTF8String.fromString(r.warcType),
        if (r.uri == null) null else UTF8String.fromString(r.uri),
        r.len,
        UTF8String.fromString(r.body))).toArray[Any])
    case None => null
  }
}
