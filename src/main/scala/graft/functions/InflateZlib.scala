package graft.functions

/** `inflate_zlib(binary)` → the inflated bytes, decoded by the
  * engine's OWN RFC 1951/1950 implementation
  * ([[graft.llm.Inflate]]: canonical Huffman construction, dynamic
  * code-length meta-code, LZ77 back-copies, Adler-32 check) — not
  * the JDK. Null on any malformed stream (fail-closed: bad
  * wrapper, over-subscribed codes, walks into unassigned codewords,
  * out-of-window copies, trailing garbage, wrong checksum, bomb
  * cap). */
object InflateZlib {
  /** Null (not an exception) on malformed input — the codegen
    * contract. */
  def inflate(b: Array[Byte]): Array[Byte] =
    graft.llm.Inflate.zlib(b).orNull
}
