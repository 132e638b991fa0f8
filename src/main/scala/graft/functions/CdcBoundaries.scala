package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** `cdc_boundaries(text)` → `array<bigint>` of content-defined chunk
  * boundary positions: the 1-based character positions `i ≥ 2` with
  * `i ≤ len - W + 1` where the base-B polynomial hash of the W
  * codepoints starting at `i` (reduced mod M at every step) is ≡ R
  * (mod D) — the [[graft.llm.CdcChunks]] boundary rule as ONE O(len)
  * rolling pass per document.
  *
  * Why a kernel and not a `substr` fold: the unrolled
  * 16-step Column fold evaluates `substr(text, i+j, 1)` per window
  * position — each substr re-scans the string from its start
  * (UTF-8 offsets), the full text is duplicated across every
  * exploded candidate row, and the generated filter method is large
  * enough to defeat JIT compilation. Measured at sf0.1 that shape
  * cost ~23 s warm; this kernel replaces it with one codepoint
  * decode and a Rabin-style rolling update per position
  * (H' = (H − c_out·B^(W−1))·B + c_in, all mod M), map-side next to
  * the scan. The fold Column survives in `CdcChunks.foldHashCol`
  * solely so a spec can prove the two never drift.
  */
object CdcBoundaries {
  /** One rolling pass; positions/windows count CODEPOINTS (the unit
    * `length()`/`substr()` count in both Spark and DuckDB, so the
    * oracle's `ord(substr(text, i+j, 1))` sees the same values).
    * Magnitude check for the general-mod rolling update: h < M=2^20,
    * c ≤ 0x10FFFF, B^(W−1) mod M < M → every intermediate < 2^42. */
  def kernel(t: UTF8String): ArrayData = {
    import graft.llm.CdcChunks.{B, D, M, R, W}
    val cps = t.toString.codePoints().toArray
    val len = cps.length
    if (len < W + 1) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var bw = 1L
    var j = 0
    while (j < W - 1) { bw = bw * B % M; j += 1 }
    var h = 0L // H(2): window over cps[1 .. W] (0-based)
    j = 0
    while (j < W) { h = (h * B + cps(j + 1)) % M; j += 1 }
    if (h % D == R) out += 2L
    var i = 3
    while (i <= len - W + 1) {
      h = ((h - cps(i - 2) * bw % M + M) * B + cps(i + W - 2)) % M
      if (h % D == R) out += i.toLong
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
