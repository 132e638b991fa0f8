package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(string)` → the Unicode NFC (canonical
  * composition) normalization of the input — the first step of any
  * text-canonicalization pass before dedup/tokenization, where
  * visually identical strings with different codepoint sequences
  * ("é" vs "e" + U+0301) must hash identically. Spark ships no
  * normalization built-in; this kernel runs the JDK's
  * `java.text.Normalizer` (Unicode-standard NFC, the same form
  * DuckDB's `nfc_normalize` and Python's
  * `unicodedata.normalize("NFC", …)` produce, which is what makes
  * it oracle-checkable). The ASCII fast-path (NFC is the identity
  * on ASCII, the bulk of a web corpus) avoids the Normalizer walk
  * entirely. */
object NfcNormalize {
  def normalize(s: UTF8String): UTF8String = {
    // ASCII fast-path: NFC is the identity on ASCII and most web
    // text is ASCII — skip the String round-trip entirely
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) return s
    val j = s.toString
    if (java.text.Normalizer.isNormalized(j, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(j, java.text.Normalizer.Form.NFC))
  }
}
