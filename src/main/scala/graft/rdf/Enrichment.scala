package graft.rdf

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

/** O14 — the enrichment lookup, done right (SURVEY §2 calls the
  * reference's version "the anti-pattern to fix": one blocking HTTP
  * GET *per matching triple occurrence*, no key dedup, 200 s timeout
  * each — src/transform_datamodel.py:88–101).
  *
  * Engine shape: distinct normalized keys ([[RdfOps.enrichmentKeys]])
  * → `mapPartitions` with one client per partition, batched lookups →
  * parsed triples. The fetch is an injectable `String => Seq[...]`
  * so tests stub it and production swaps in a pooled HTTP client or —
  * the real 100 TB answer — a pre-materialized dimension snapshot
  * joined instead of fetched.
  *
  * Failure semantics are the reference's, kept deliberately: a failed
  * key is logged (accumulator-counted here) and *skipped*; the join
  * is best-effort/lossy (transform_datamodel.py:100–101). Set
  * `bestEffort = false` to fail the job instead.
  */
object Enrichment {

  /** Fetch enrichment triples for each distinct key in `keys`
    * (single column `monument_key`). `fetch` returns the parsed
    * triples for one key. */
  def fetchAll(keys: DataFrame, fetch: String => Seq[Turtle.FlatTriple],
      bestEffort: Boolean = true,
      failedCounter: Option[LongAccumulator] = None): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select("monument_key").as[String]
      .mapPartitions { it =>
        // a pooled HTTP client / codec session would initialize here,
        // once per partition — the test seam keeps it a pure function
        it.flatMap { key =>
          Try(fetch(key)) match {
            case Success(ts) => ts
            case Failure(e) if bestEffort =>
              failedCounter.foreach(_.add(1))
              Seq.empty
            case Failure(e) => throw e
          }
        }
      }
      .toDF("graph", "subject", "subject_kind", "predicate",
        "obj_value", "obj_kind", "obj_lang", "obj_datatype")
      .dropDuplicates()
  }

  /** Apply a refresh to a stored enrichment snapshot: REPLACE the
    * snapshot's triples for every subject the re-fetch returned, then
    * union the fetched rows in. Plain set-union would merely add the
    * updated triples next to the stale ones (set semantics never
    * deletes), so an upstream edit would never fully propagate; the
    * anti-join deletes the refreshed subjects' old rows first. The
    * refreshed-subject set is refresh-scale (small — the TTL'd slice
    * of a dimension table), so AQE broadcasts the anti-join and the
    * corpus-scale snapshot is scanned map-side once.
    *
    * SET CONTRACT: `snapshot` must be a set (no duplicate rows). The
    * result then is one too, with no dedup shuffle: `fetched` is a
    * set ([[fetchAll]] deduplicates), and the two unioned halves are
    * disjoint — every fetched row's subject is anti-joined out of the
    * snapshot. The published triples are deduplicated downstream
    * regardless.
    *
    * A union has the partitions of both inputs, so a snapshot
    * refreshed run after run would gain the fetch's partitions every
    * run. The result is coalesced (narrow, no shuffle) to the
    * session's shuffle width, the width a dedup shuffle would give. */
  def applyRefresh(snapshot: DataFrame, fetched: DataFrame): DataFrame = {
    val subs = fetched.select("subject").distinct()
    snapshot.join(subs, Seq("subject"), "left_anti")
      // a USING join hoists the key column to position 0 — restore
      // the snapshot's column order before the positional union
      .select(snapshot.columns.map(org.apache.spark.sql.functions.col): _*)
      .union(fetched)
      .coalesce(snapshot.sparkSession.sessionState.conf.numShufflePartitions)
  }
}
