package graft.functions

/** `deflate_zlib(binary, level)` → the RFC 1950 zlib stream of the
  * input at the given DEFLATE level (0–9), via the JDK's Deflater —
  * the CONSTRUCT half of the `llm_inflate` round-trip, deliberately
  * the *JDK* codec so the decode half
  * ([[InflateZlib]] → [[graft.llm.Inflate]]) is exercised against
  * an independent implementation, not its own inverse. Level 0
  * yields STORED blocks, low levels fixed-Huffman-leaning streams,
  * high levels dynamic blocks — cycling levels per row walks the
  * decoder through all three block types. Deterministic for a given
  * (input, level). */
object DeflateZlib {
  def compress(b: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(math.max(0, math.min(9, level)))
    d.setInput(b)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }
}
