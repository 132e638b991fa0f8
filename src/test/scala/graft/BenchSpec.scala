package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must surface failures, not time them as successes:
  * a query that throws gets an `err` marker in the JSON (and main exits
  * nonzero), so a broken query can never bench as a fast pass. */
class BenchSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ok_count" -> ((s, dir) => Tables(s, dir, "region")),
    // count() prunes unused columns, so the failure must be in the
    // aggregated path itself: divide-by-zero under ANSI inside a
    // HAVING-style filter won't do either (also prunable) — a missing
    // table fails at analysis, which count() can never optimize away
    "boom" -> ((s, _) => s.sql("SELECT * FROM graft_bench_no_such_table")))

  test("a throwing query is recorded as err, healthy queries still time") {
    val s = TestSpark.spark
    val runs = Bench.run(s, sf, queries)
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("ok_count").err.isEmpty)
    assert(byName("boom").err.isDefined)
    // sorted order is stable
    assert(runs.map(_.name) == runs.map(_.name).sorted)

    val json = Bench.renderJson(runs, sf)
    assert(json.contains("\"errors\":{\"boom\":\""))
    assert(!json.contains("\"errors\":{\"ok_count\""))
    assert(json.contains("\"load_avg_1m\":"))
    assert(json.contains("\"codegen_cache_max_entries\":8192"))
    assert(json.contains("\"codegen_compiles\":{\"boom\":0,\"ok_count\":"))
    // still one line, still has per-query timings for both
    assert(!json.contains("\n"))
    assert(json.contains("\"ok_count\":"))
  }

  test("steady mode: cold + N warm runs per query, erred queries are " +
    "never re-run, warm median is the headline") {
    val s = TestSpark.spark
    var boomCalls = 0
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_count" -> ((s2, dir) => Tables(s2, dir, "region")),
      "boom" -> ((s2, _) => {
        boomCalls += 1
        s2.sql("SELECT * FROM graft_bench_no_such_table")
      }))
    val runs = Bench.runSteady(s, sf, qs, warmReps = 3)
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("ok_count").err.isEmpty &&
      byName("ok_count").warmSecs.size == 3)
    // the failure is timed once (cold) and never repeated
    assert(byName("boom").err.isDefined &&
      byName("boom").warmSecs.isEmpty && boomCalls == 1)
    // median = middle element of the sorted 3
    val ok = byName("ok_count")
    assert(Bench.warmMedian(ok) == ok.warmSecs.sorted.apply(1))
    assert(Bench.warmMedian(byName("boom")) == byName("boom").coldSec)
    val json = Bench.renderSteadyJson(runs, sf, 3)
    assert(json.contains("\"mode\":\"steady\"") &&
      json.contains("\"warm_reps\":3") &&
      json.contains("\"cold\":{") &&
      json.contains("\"errors\":{\"boom\":\"") && !json.contains("\n"))
    // one compile count per run, cold first; the erred query ran once
    assert(byName("ok_count").compiles.size == 4 &&
      byName("boom").compiles == Seq(0L))
    // the erred query's stack-unwind time must not pollute the
    // headline totals: its per-query entries are null and the totals
    // equal the ok-only sums
    assert(json.contains("\"boom\":null"))
    val totalRe = "\"value\":([0-9.eE+-]+)".r
    val total = totalRe.findFirstMatchIn(json).get.group(1).toDouble
    assert(math.abs(total - Bench.warmMedian(ok)) < 1e-9)
    val coldRe = "\"total_cold\":([0-9.eE+-]+)".r
    val totalCold = coldRe.findFirstMatchIn(json).get.group(1).toDouble
    assert(math.abs(totalCold - ok.coldSec) < 1e-9)
  }
}
