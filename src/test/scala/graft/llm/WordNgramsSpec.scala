package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.NativeFunctions

/** The codegen shingle kernel must agree with the interpreted HOF
  * spelling it replaced — on the real corpus and on the degenerate
  * shapes (short docs, exact-n docs, empty tokens).
  */
class WordNgramsSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("kernel equals the HOF spelling on the real documents table") {
    val w = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .localCheckpoint()
    Seq(3 -> LlmQueries.shingle3HofExpr, 5 -> LlmQueries.fivegramHofSql)
      .foreach { case (n, hof) =>
        val both = w.select(col("doc_id"),
          NativeFunctions.wordNgrams(col("w"), lit(n)).as("fast"),
          expr(hof).as("ref"))
        assert(both.filter(col("fast") =!= col("ref")).isEmpty, s"n=$n")
      }
  }

  test("degenerate shapes: fewer-than-n tokens, exactly n, empties") {
    val s = spark
    import s.implicits._
    val df = Seq("", "a", "a b", "a b c", "a b c d").toDF("text")
      .select(split(trim(lower(col("text"))), "\\s+").as("w"))
    val got = df.select(NativeFunctions.wordNgrams(col("w"), lit(3)).as("g"))
      .collect().map(_.getSeq[String](0).toList).toList
    // split("") yields [""] — one token, still < 3 → empty
    assert(got == List(Nil, Nil, Nil, List("a b c"),
      List("a b c", "b c d")))
  }

  test("null tokens: kernel matches the HOF concat semantics " +
    "(null-in → null shingle) for user-supplied arrays") {
    // the engine tokenizer never yields null tokens, but word_ngrams
    // is a registered user-facing SQL function — the agreement
    // contract must hold on nullable-element arrays too
    val both = spark.sql(
      """SELECT word_ngrams(w, 2) AS fast,
        |  transform(sequence(1, size(w) - 1),
        |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
        |    AS ref
        |FROM VALUES (array('a', CAST(NULL AS STRING), 'c', 'd')) t(w)
        |""".stripMargin).collect().head
    val fast = both.getSeq[String](0).toList
    val ref = both.getSeq[String](1).toList
    assert(fast == ref && fast == List(null, null, "c d"))
  }

  test("SQL registration and invalid n") {
    val r = spark.sql(
      "SELECT word_ngrams(array('x', 'y', 'z'), 2) AS g")
      .collect().head.getSeq[String](0)
    assert(r == Seq("x y", "y z"))
    val e = intercept[Exception] {
      spark.sql("SELECT word_ngrams(array('x'), 0)").collect()
    }
    assert(e.getMessage.contains("word_ngrams") ||
      e.getCause != null)
  }
}
