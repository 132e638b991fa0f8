package graft.functions

/** `gzip_member(binary)` → one complete gzip member (RFC 1952) of
  * the input bytes — the building block of `.warc.gz` archives,
  * which concatenate one member PER RECORD so consumers can start
  * at any member boundary (Common Crawl's layout). Deterministic:
  * the JDK writer emits a fixed header (MTIME 0, no name/comment)
  * and DEFLATE at the default level, so the same input always
  * yields the same bytes — fixture archives rebuilt on both sides
  * of a replay agree bit-for-bit. */
object GzipMember {
  /** One gzip member of `b` (JDK GZIPOutputStream: fixed header,
    * default-level DEFLATE, CRC32 + ISIZE trailer). */
  def compress(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out, 8192)
    gz.write(b)
    gz.finish()
    gz.close()
    out.toByteArray
  }
}
