package graft

import org.apache.spark.sql.SparkSession

/** Scoped, DATA-DERIVED shuffle sizing for iterative loop interiors.
  *
  * The engine's iterative operators (connected components, PageRank,
  * semi-naive closure walks, k-core peeling, label propagation,
  * Lloyd steps) run O(rounds) tiny fixed-shape plans over
  * checkpoint-backed state whose size the loop has already measured.
  * Each interior exchange at the session default width costs
  * width × (sorter/hash-map page allocation + task dispatch) per
  * round regardless of bytes — measured this round at ~100 ms per
  * near-empty task (rel_q44_components: 365 s of task time across
  * 3.4k tasks at width 32 vs 4.9 s at width 2, identical result).
  * AQE coalesces *post-shuffle* reads but still launches the
  * width-sized map side and replans every stage every round.
  *
  * `sized` runs a loop body with `spark.sql.shuffle.partitions` set
  * from the loop's own measured row count (the ccFromPairs
  * 500k-rows-per-partition discipline, now shared), then restores
  * the session value. This is scale-ADAPTIVE, not a local[32] tune:
  * at 100 TB the same formula yields thousands of partitions —
  * strictly more parallelism than a static default — and at any
  * scale it is the number AQE's advisory coalescing would converge
  * to, computed once per loop instead of re-planned per stage per
  * round. AQE itself stays ON inside the scope (join-skew splitting
  * keeps working; it only applies to joins, which is where skew can
  * appear in these loops).
  */
object LoopConf {
  /** Rows per shuffle partition inside loop interiors — the
    * ccFromPairs constant, promoted to the shared discipline. */
  val RowsPerPartition = 500000L

  def partsFor(rows: Long): Int =
    math.max(1L, rows / RowsPerPartition).min(Int.MaxValue.toLong).toInt

  /** Run `body` with the interior shuffle width derived from `rows`
    * (the loop's measured state size); restores the session width
    * afterwards even on failure. Loops run strictly sequentially
    * within a session (the bench/verify drivers execute one query at
    * a time), so the scoped set/restore cannot race another query's
    * planning.
    *
    * For OVERHEAD-bound loop interiors (per-row work is trivial —
    * label pulls, pair anti-joins, rank diffs): width is purely
    * rows/500k, because every extra partition costs fixed
    * sorter/hash-map setup per round with nothing to parallelize. */
  def sized[A](s: SparkSession, rows: Long)(body: => A): A =
    withWidth(s, partsFor(rows))(body)

  /** CPU-bound builds (real per-row work: position-scale sorts,
    * hashing, codecs) keep a FLOOR of the executor parallelism —
    * narrowing below the core count converts the fixed-cost saving
    * into idle cores (measured: the SA LCP lift at width 3 dropped
    * its task time 303 s → 63 s but RAISED wall 15 s → 24 s). Width
    * still grows data-derived past the floor at scale. */
  def sizedCompute[A](s: SparkSession, rows: Long)(body: => A): A =
    withWidth(s,
      math.max(s.sparkContext.defaultParallelism, partsFor(rows)))(body)

  private def withWidth[A](s: SparkSession, width: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, width.toString)
    try body finally s.conf.set(key, old)
  }

  /** Run `body` with AQE disabled (scoped, restored on exit).
    *
    * For a FIXED-SHAPE loop interior whose width [[sized]] has
    * already derived from measured row counts, AQE has nothing left
    * to adapt — but it still re-optimizes and materializes every
    * exchange as its own sub-job, every round. Measured on the
    * pair-closure ladder (rdf_path_inv_plus cold, ProfileQ, this
    * round): 57 jobs / 8.4 s with AQE on vs 24 jobs / 3.2 s off,
    * identical result and task work. This is NOT a blanket loop
    * setting: a loop that scans wide multi-partition checkpoints
    * each round (the pagerank contrib join) measured WORSE with AQE
    * off (24.5 s vs 18.0 s — unsized scan stages stop being
    * coalesced), so each loop opts in from its own measurement. */
  def noAqe[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, old)
  }
}
