package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.graftshim.CodegenCache
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache must hold the engine's working set:
  * at Spark's default of 100 classes, a second pass over more distinct
  * queries than that recompiles every one of them. */
class CodegenCacheSpec extends AnyFunSuite {

  test("a second pass over 150 distinct queries compiles nothing") {
    val spark = TestSpark.spark
    assert(CodegenCache.maxEntries == CodegenCache.DefaultEntries)
    // each query has its own generated code: the literals are inlined
    val queries = (1 to 150).map(i =>
      () => spark.range(8).selectExpr(s"id * ${i}L + $i AS v").collect())
    queries.foreach(_())
    val before = CodegenCache.compiles
    queries.foreach(_())
    assert(CodegenCache.compiles - before == 0)
  }

  test("setDefault fills an unset key and keeps a user-set one") {
    val unset = new SparkConf(loadDefaults = false)
    CodegenCache.setDefault(unset)
    assert(unset.get(CodegenCache.Key) == "8192")

    val userSet = new SparkConf(loadDefaults = false)
      .set(CodegenCache.Key, "250")
    CodegenCache.setDefault(userSet)
    assert(userSet.get(CodegenCache.Key) == "250")
  }
}
