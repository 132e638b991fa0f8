package graft.functions

/** `zstd_fse_compress(binary, explicit)`: a zstd frame of FSE
  * Compressed blocks built by the engine's own greedy-LZ encoder
  * ([[graft.llm.ZstdFse.compress]]) — the CONSTRUCT half of the
  * `llm_zstd_fse` roundtrip. `explicit != 0` transmits per-block
  * FSE table descriptions (normalized from the block's own code
  * histogram); otherwise the RFC 8878 predefined distributions are
  * used — cycling the flag per row walks the decoder through both
  * table sources. Deterministic for a given (input, flag). */
object ZstdFseCompress {
  def compress(b: Array[Byte], explicitTables: Int): Array[Byte] =
    graft.llm.ZstdFse.compress(b, explicitTables != 0)
}

/** `zstd_fse_decompress(binary)`: the regenerated bytes, decoded
  * by the engine's own RFC 8878 walk ([[graft.llm.Zstd.walk]] +
  * [[graft.llm.ZstdFse.decodeBlock]]: FSE table construction,
  * backward bitstream, sequence execution with repeat offsets).
  * Null on any malformed stream (fail-closed: truncation, reserved
  * bits, Huffman literals, content-size mismatch, out-of-window
  * copies, bomb cap). */
object ZstdFseDecompress {
  def decompress(b: Array[Byte]): Array[Byte] =
    graft.llm.ZstdFse.decompress(b).orNull
}

/** `zstd_jni_compress(binary, level)`: a REAL zstd frame produced
  * by zstd-jni (the reference implementation Spark itself ships for
  * parquet codecs) — the CONSTRUCT half of the `llm_zstd_real`
  * roundtrip, deliberately the INDEPENDENT codec so the engine's
  * from-scratch decode walk is exercised against the reference
  * implementation, not its own inverse (the [[DeflateZlib]] /
  * `llm_inflate` discipline). Cycling levels per row walks the
  * decoder through raw/RLE/Huffman literals, predefined and
  * explicit FSE tables, treeless and repeat modes. Deterministic
  * for a given (input, level, library version). */
object ZstdJniCompress {
  def compress(b: Array[Byte], level: Int): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(b,
      math.max(1, math.min(19, level)))
}

/** `zstd_jni_dict_compress(binary, dict, level)`: a zstd frame
  * compressed AGAINST A DICTIONARY by zstd-jni — the construct
  * half of the `llm_zstd_dict` roundtrip (the reference
  * implementation again, so the engine's §5 dictionary decode is
  * pinned independently). Deterministic for a given
  * (input, dict, level, library version). */
object ZstdJniDictCompress {
  def compress(b: Array[Byte], dict: Array[Byte],
      level: Int): Array[Byte] = {
    val bound = com.github.luben.zstd.Zstd
      .compressBound(b.length.toLong).toInt
    val dst = new Array[Byte](bound)
    val n = com.github.luben.zstd.Zstd.compressUsingDict(
      dst, 0, b, 0, b.length, dict, math.max(1, math.min(19, level)))
    require(!com.github.luben.zstd.Zstd.isError(n),
      s"zstd dict compression failed: $n")
    java.util.Arrays.copyOf(dst, n.toInt)
  }
}

/** `zstd_fse_dict_decompress(binary, dict)`: the regenerated
  * bytes, decoded by the engine's own RFC 8878 walk WITH the §5
  * dictionary: entropy tables preloaded, repeat offsets
  * initialized, matches reaching into the dict content,
  * Dictionary_ID verified. Null fail-closed. */
object ZstdFseDictDecompress {
  def decompress(b: Array[Byte], dict: Array[Byte]): Array[Byte] =
    graft.llm.ZstdFse.decompressWithDict(b, dict).orNull
}

/** `zstd_multi_frame(binary, seed)`: a MULTI-FRAME zstd stream:
  * the input split into three chunks, each its own independent
  * frame (alternating predefined / explicit FSE tables by seed),
  * with a skippable frame spliced between — the layout of real
  * `.zst` dumps built for range-readable parallel ingest. The
  * construct half of `llm_zstd_split`. */
object ZstdMultiFrame {
  def build(raw: Array[Byte], seed: Int): Array[Byte] = {
    val n = raw.length
    val cuts = Seq(0, n / 3, 2 * (n / 3), n)
    val out = new java.io.ByteArrayOutputStream(n / 2 + 96)
    var k = 0
    while (k < 3) {
      if (k == 1) { // a skippable frame between data frames
        val skipLen = math.floorMod(seed, 7)
        out.write(0x52); out.write(0x2a); out.write(0x4d); out.write(0x18)
        out.write(skipLen); out.write(0); out.write(0); out.write(0)
        var j = 0
        while (j < skipLen) { out.write((seed + j) & 0xff); j += 1 }
      }
      val chunk = java.util.Arrays.copyOfRange(raw, cuts(k), cuts(k + 1))
      val z = graft.llm.ZstdFse.compress(chunk, (seed + k) % 2 == 1)
      out.write(z, 0, z.length)
      k += 1
    }
    out.toByteArray
  }
}

/** `zstd_split_decode(binary)`: the regenerated bytes of a
  * multi-frame stream via header-only frame-boundary discovery +
  * INDEPENDENT per-frame decode + in-order reassembly
  * ([[graft.llm.ZstdFse.splitDecode]]) — the parallel-ingest shape
  * proven as a roundtrip: the split points must land exactly on
  * decodable units or the digest diverges. Null fail-closed. */
object ZstdSplitDecode {
  def decode(b: Array[Byte]): Array[Byte] =
    graft.llm.ZstdFse.splitDecode(b).orNull
}
