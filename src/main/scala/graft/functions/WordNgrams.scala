package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram (shingle) construction — the hot first step of every
  * text-dedup/sketch operator (MinHash signatures, KMV, novelty,
  * winnowing, passage dedup, decontamination 5-grams).
  *
  * Why a native function and not
  * `transform(sequence(1, size(w)-n+1), i -> concat(...))`: Spark's
  * higher-order functions are CodegenFallback — the lambda is
  * evaluated INTERPRETED, one expression-tree walk per produced
  * shingle, and the `sequence()` materializes an index array first.
  * `word_ngrams` compiles to one generated call whose kernel runs
  * a primitive loop over the token array's UTF8Strings — it stays
  * inside whole-stage codegen like the dot-product kernel.
  *
  * Semantics (both spellings agree, spec-pinned): tokens joined with
  * a single space; fewer than n tokens yield an empty array; a
  * window containing a NULL token yields a NULL shingle — exactly
  * what the HOF reference spelling's `concat` (null if any argument
  * is null) produces, so the agreement contract holds for
  * user-supplied arrays with null elements too, not just the
  * engine's tokenizer output (`split` never produces null tokens).
  */
object TextKernels {
  private val Space = UTF8String.fromString(" ")

  def wordNgrams(words: ArrayData, n: Int): ArrayData = {
    if (n <= 0)
      throw new IllegalArgumentException(s"word_ngrams: n must be > 0, got $n")
    val len = words.numElements()
    val out = math.max(len - n + 1, 0)
    val res = new Array[AnyRef](out)
    var i = 0
    while (i < out) {
      val parts = new Array[UTF8String](n)
      var j = 0
      var hasNull = false
      while (j < n) {
        if (words.isNullAt(i + j)) hasNull = true
        else parts(j) = words.getUTF8String(i + j)
        j += 1
      }
      // concat semantics, not concat_ws: null-in → null-out
      res(i) = if (hasNull) null else UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(res)
  }
}
