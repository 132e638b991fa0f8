package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EtlConf

/** Incremental publish ([[Pipeline.publishDelta]]): the change log
  * must be exactly the snapshot diff per run, the snapshot must
  * always equal the latest publish, and identical re-publishes must
  * append nothing.
  */
class PipelineDeltaSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def res(df: DataFrame): Pipeline.Result =
    Pipeline.Result(df, EtlConf.fromEnv(Map.empty), Map.empty)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("publishDelta: full first publish, exact per-run diff, idempotent re-publish") {
    val base = Files.createTempDirectory("pub-delta").toFile.getAbsolutePath
    val snap = s"$base/snapshot"
    val log = s"$base/changes"
    val v1 = rdf.TripleFixture.triples(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    // "next week": drop the resource-template rows, rewrite one title
    val v2 = v1
      .filter(col("predicate") =!= rdf.Vocab.OmekaResourceTemplate)
      .withColumn("obj_value",
        when(col("predicate") === rdf.Vocab.DctermsTitle &&
          col("subject") === "http://ex.org/item/1",
          concat(col("obj_value"), lit(" rev2")))
          .otherwise(col("obj_value")))
      .localCheckpoint()

    Pipeline.publishDelta(res(v1), snap, log, "run1")
    assert(rows(spark.read.parquet(snap)) == rows(v1))
    val log1 = spark.read.parquet(log)
    assert(log1.filter(col("run_id") === "run1" &&
      col("change") =!= "added").count() == 0)
    assert(log1.count() == v1.count())

    Pipeline.publishDelta(res(v2), snap, log, "run2")
    assert(rows(spark.read.parquet(snap)) == rows(v2))
    val log2 = spark.read.parquet(log).filter(col("run_id") === "run2")
      .localCheckpoint()
    val cols = v1.columns.map(col)
    val added = log2.filter(col("change") === "added").select(cols: _*)
    val removed = log2.filter(col("change") === "removed").select(cols: _*)
    assert(rows(added) == rows(v2.exceptAll(v1)))
    assert(rows(removed) == rows(v1.exceptAll(v2)))
    assert(removed.count() > 1 && added.count() == 1)

    // identical content: the diff is empty, nothing is appended
    Pipeline.publishDelta(res(v2), snap, log, "run3")
    assert(spark.read.parquet(log).filter(col("run_id") === "run3")
      .count() == 0)
    assert(rows(spark.read.parquet(snap)) == rows(v2))

    // consumer side: folding run2's changes onto v1 reproduces v2
    assert(rows(Pipeline.applyChanges(v1, log2)) == rows(v2))
  }

  test("publishDelta retry: a crashed run's change partition is " +
    "replaced whole, never duplicated; other runs untouched") {
    val base = Files.createTempDirectory("pub-retry").toFile.getAbsolutePath
    val snap = s"$base/snapshot"
    val log = s"$base/changes"
    val v1 = rdf.TripleFixture.triples(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    val v2 = v1.filter(col("predicate") =!= rdf.Vocab.OmekaIsPublic)
      .localCheckpoint()
    Pipeline.publishDelta(res(v1), snap, log, "run1")
    val run1Rows = spark.read.parquet(log)
      .filter(col("run_id") === "run1").count()
    Pipeline.publishDelta(res(v2), snap, log, "run2")
    // simulate the crash window: change partition landed, snapshot
    // overwrite did not
    v1.write.mode("overwrite").parquet(snap)
    // the retry re-diffs against the OLD snapshot (same rows) and
    // REPLACES run2's partition via dynamic partition overwrite
    Pipeline.publishDelta(res(v2), snap, log, "run2")
    val log2 = spark.read.parquet(log).filter(col("run_id") === "run2")
    val expected = v1.exceptAll(v2).count() // removals only here
    assert(expected > 0 && log2.count() == expected) // exactly once
    assert(spark.read.parquet(log).filter(col("run_id") === "run1")
      .count() == run1Rows)
    assert(rows(spark.read.parquet(snap)) == rows(v2))
    // consumer folding still reproduces v2
    assert(rows(Pipeline.applyChanges(v1, log2)) == rows(v2))
  }

  test("publishDelta's one-shuffle diff equals the EXCEPT diff over " +
    "null-bearing and repeated rows; the snapshot is a set; counts " +
    "are returned") {
    val base = Files.createTempDirectory("pub-diff").toFile.getAbsolutePath
    val snap = s"$base/snapshot"
    val log = s"$base/changes"
    val nul: String = null
    def t(s: String, v: String, lang: String, dt: String) =
      ("default", s"http://x/$s", "iri", rdf.Vocab.DctermsTitle, v,
        "literal", lang, dt)
    val v1 = TestSpark.triples(Seq(
      t("1", "a", nul, nul), t("2", "b", "nl", nul), t("3", "c", nul,
        "http://www.w3.org/2001/XMLSchema#string"), t("4", "d", nul, nul)))
    // v2 repeats rows, keeps the null-bearing 1 and 3, drops 2 and 4,
    // re-types 4, and adds 5 (null-bearing) twice
    val v2 = TestSpark.triples(Seq(
      t("1", "a", nul, nul), t("1", "a", nul, nul),
      t("3", "c", nul, "http://www.w3.org/2001/XMLSchema#string"),
      t("4", "d", "en", nul), t("5", "e", nul, nul), t("5", "e", nul, nul)))
    val c1 = Pipeline.publishDelta(res(v1), snap, log, "run1")
    assert(c1 == Pipeline.DeltaCounts(added = 4, removed = 0, rows = 4))
    val c2 = Pipeline.publishDelta(res(v2), snap, log, "run2")
    val cols = v1.columns.map(col)
    val change = spark.read.parquet(log).filter(col("run_id") === "run2")
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    val added = v2.except(v1)
    val removed = v1.except(v2)
    // exactly the EXCEPT rows, each once
    assert(sorted(change.filter(col("change") === "added").select(cols: _*)) ==
      sorted(added))
    assert(sorted(change.filter(col("change") === "removed").select(cols: _*)) ==
      sorted(removed))
    assert(added.count() == 2 && removed.count() == 2)
    // the written snapshot is v2 as a set
    val written = spark.read.parquet(snap).select(cols: _*)
    assert(sorted(written) == sorted(v2.distinct()))
    assert(c2 == Pipeline.DeltaCounts(added = 2, removed = 2, rows = 4))
    // an identical re-publish: no change rows, counts agree
    assert(Pipeline.publishDelta(res(v2), snap, log, "run3") ==
      Pipeline.DeltaCounts(added = 0, removed = 0, rows = 4))
  }
}

