package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.NativeFunctions

/** Content-defined chunking (CDC): chunk boundaries are a pure
  * function of a rolling polynomial hash of the LOCAL window, so
  * inserting or deleting bytes early in a document only disturbs
  * boundaries within one window of the edit — every later chunk
  * realigns and keeps its identity. That shift-robustness is what
  * fixed-stride windows (`llm_chunk_windows`) fundamentally lack,
  * and it is why dedup/storage systems chunk this way (Muthitacharoen
  * et al., LBFS SOSP'01 — the public origin of the technique).
  *
  * Boundary rule: position i (1-based, i ≥ 2) starts a new chunk iff
  * H(text[i .. i+W-1]) ≡ R (mod D), with H the base-B polynomial
  * hash reduced mod M at every step — exact integer arithmetic that
  * the DuckDB oracle replays with the SAME unrolled expression.
  * Deliberately NO min/max chunk-length clamp: a clamp makes a
  * boundary depend on its predecessor (sequential state — neither
  * shift-robust nor parallelizable); the pure rule is what makes the
  * operator embarrassingly parallel at 100 TB AND oracle-replayable.
  *
  * Plan shape: the boundary scan is ONE O(len) rolling-hash pass per
  * document ([[graft.functions.CdcBoundaries]], a codegen'd Catalyst
  * expression), and chunk assembly is pure per-row array arithmetic
  * (zip each start with its successor) — chunking has NO shuffle at
  * all; the chunk-dedup rollup is one hash aggregate on the chunk
  * digest. At 100 TB each task chunks only the documents in its own
  * input split.
  */
object CdcChunks {
  val W = 16 // window bytes
  val B = 257L // polynomial base
  val M = 1L << 20 // modulus (per-step reduction keeps longs tiny)
  val D = 64L // boundary divisor → expected chunk length
  val R = 13L // boundary residue

  /** The unrolled H(text[i..i+W-1]) as a Column fold over
    * `substr(text, i+j, 1)` — the shape the oracle states in SQL.
    * NOT on the execution path (each substr re-scans the string and
    * the generated filter defeats JIT compilation — ~23 s warm at
    * sf0.1); it exists so CdcBoundariesSpec can prove the rolling
    * kernel and the oracle's spelling compute the same hash. */
  private[graft] def foldHashCol: Column = {
    var acc: Column = lit(0L)
    for (j <- 0 until W) {
      acc = (acc * B +
        ascii(col("text").substr(col("i") + lit(j), lit(1)))) % M
    }
    acc
  }

  /** The oracle's spelling of [[hashCol]], built by the same fold so
    * the two can never drift. */
  private[llm] def hashSql: String = {
    var acc = "0"
    for (j <- 0 until W) {
      acc = s"(($acc * $B + ord(substr(text, t.i::INT + $j, 1))) % $M)"
    }
    acc
  }

  /** (doc_id, chunk_start, chunk_len, chunk_sha) — every chunk of
    * every document. Chunks cover the document exactly: starts are
    * position 1 plus every boundary position ≥ 2. */
  def chunks(s: SparkSession, d: String): DataFrame =
    chunksOfDocs(Tables(s, d, "documents"))

  /** [[chunks]] over an explicit `(doc_id, text, ...)` frame — the
    * probe surface shared with the incremental query and the
    * streaming twin (chunk boundaries are per-document, so a shard's
    * chunks are IDENTICAL to its chunks within the full corpus —
    * the property that makes the stored-digest probe exact). */
  def chunksOfDocs(docsDf: DataFrame): DataFrame = {
    val starts = concat(array(lit(1L)),
      NativeFunctions.cdcBoundaries(col("text")))
    // each start's successor (the next start, or len+1 for the last)
    // by per-row array arithmetic — no window, no join, no shuffle
    val nexts = concat(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(length(col("text")).cast("long") + 1L))
    docsDf
      .select(col("doc_id"), col("text"),
        explode(zip_with(starts, nexts, (s, n) =>
          struct(s.as("start"), (n - s).as("chunk_len")))).as("c"))
      .select(col("doc_id"), col("c.start").as("chunk_start"),
        col("c.chunk_len").as("chunk_len"),
        sha2(col("text").substr(col("c.start"), col("c.chunk_len")),
          256).as("chunk_sha"))
  }

  /** Chunk-level dedup rollup: digests occurring more than once —
    * the shift-robust duplicate signal (a duplicated passage shares
    * its interior chunks even when its byte offset differs between
    * documents). ONE hash aggregate on the digest. */
  def dedup(s: SparkSession, d: String): DataFrame =
    chunks(s, d)
      .groupBy(col("chunk_sha"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_copies") > 1)

  // ----------------------------------------------------------------
  // Incremental rung (the exact/minhash/span-dedup discipline): the
  // base corpus's chunk DIGEST SET is a stored parquet artifact;
  // an arriving shard is chunked locally (map-side) and its digests
  // broadcast against the index scan — the corpus is never re-read.
  // An arriving occurrence is duplicated iff its digest exists in
  // the base index OR occurs twice within the shard — exactly
  // "count ≥ 2 corpus-wide" restricted to arriving occurrences
  // (per-document boundaries make the decomposition exact), so the
  // oracle is the from-scratch full-corpus rule filtered to the
  // shard: sharing it IS the incremental contract.
  // ----------------------------------------------------------------
  private val buildLock = new Object

  private[llm] def storedDigestsPath(s: SparkSession,
      d: String): String = {
    val path = s"${LlmQueries.storedIndexPath(d)}/cdc-digests"
    buildLock.synchronized {
      graft.SnapshotMemo.getOrCompute(s, s"cdc-digests:$d") {
        chunksOfDocs(Tables(s, d, "documents")
            .filter(!expr(LlmQueries.arrivingShardPred)))
          .select("chunk_sha").distinct()
          .write.mode("overwrite").parquet(path)
        s.range(1).toDF("built")
      }
      path
    }
  }

  /** Pure index probe for a docs batch: its chunk occurrences whose
    * digest EXISTS in the stored index. Broadcast-asymmetric (the
    * batch side broadcasts; the corpus-scale index only scans).
    * Shared by [[dedupIncremental]] and the streaming twin
    * [[graft.streaming.DocsStream.startCdcProbe]]. */
  def probe(docsDf: DataFrame, digestIndex: DataFrame): DataFrame =
    digestIndex.join(broadcast(chunksOfDocs(docsDf)), Seq("chunk_sha"))
      .select(col("doc_id"), col("chunk_start"), col("chunk_len"),
        col("chunk_sha"))

  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(storedDigestsPath(s, d))
    val arr = chunksOfDocs(Tables(s, d, "documents")
      .filter(expr(LlmQueries.arrivingShardPred)))
    val localDup = arr.groupBy(col("chunk_sha"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("chunk_sha")
    idx.join(broadcast(arr), Seq("chunk_sha"))
      .select(col("doc_id"), col("chunk_start"), col("chunk_len"),
        col("chunk_sha"))
      .union(arr.join(localDup, Seq("chunk_sha"), "left_semi")
        .select(col("doc_id"), col("chunk_start"), col("chunk_len"),
          col("chunk_sha")))
      .distinct()
  }

  private[llm] def chunksOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, length(text)::BIGINT AS len
       |  FROM documents),
       |cuts AS (
       |  -- position scan bound derived PER ROW from the document's
       |  -- own length (range is exclusive-stop: last i = len-${W - 1}),
       |  -- so a fixture doc of any length scans fully — no silent
       |  -- cap the engine's unbounded kernel could outrun
       |  SELECT t.doc_id, t.i::BIGINT AS start
       |  FROM (SELECT doc_id, text, len,
       |          unnest(range(2, len - ${W - 2})) AS i
       |        FROM base) t
       |  WHERE $hashSql % $D = $R),
       |starts AS (
       |  SELECT doc_id, 1::BIGINT AS start FROM base
       |  UNION ALL SELECT doc_id, start FROM cuts),
       |chunks AS (
       |  SELECT s.doc_id, s.start,
       |    coalesce(lead(s.start) OVER (PARTITION BY s.doc_id
       |      ORDER BY s.start), b.len + 1) - s.start AS chunk_len,
       |    b.text
       |  FROM starts s JOIN base b USING (doc_id))""".stripMargin

  private[llm] def chunksOracleSelect: String =
    s"""$chunksOracle
       |SELECT doc_id, start AS chunk_start, chunk_len,
       |  sha256(substr(text, start::INT, chunk_len::INT)) AS chunk_sha
       |FROM chunks""".stripMargin

  private[llm] def dedupIncrementalOracleSelect: String =
    s"""$chunksOracle,
       |occ AS (
       |  SELECT doc_id, start, chunk_len,
       |    sha256(substr(text, start::INT, chunk_len::INT))
       |      AS chunk_sha
       |  FROM chunks),
       |marked AS (
       |  SELECT doc_id, start, chunk_len, chunk_sha,
       |    count(*) OVER (PARTITION BY chunk_sha) AS c
       |  FROM occ)
       |SELECT doc_id, start AS chunk_start, chunk_len, chunk_sha
       |FROM marked
       |WHERE c > 1 AND ${LlmQueries.arrivingShardPred}""".stripMargin

  private[llm] def dedupOracleSelect: String =
    s"""$chunksOracle
       |SELECT chunk_sha, count(*) AS n_copies,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id,
       |        sha256(substr(text, start::INT, chunk_len::INT))
       |          AS chunk_sha
       |      FROM chunks)
       |GROUP BY chunk_sha HAVING count(*) > 1""".stripMargin
}
