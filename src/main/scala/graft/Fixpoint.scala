package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** The engine's checkpoint helpers and its one round driver.
  *
  * Every checkpoint here is an EAGER LOCAL checkpoint: it runs its
  * plan once, pins the rows in block storage and cuts the lineage,
  * so consumers (and a loop's next round) plan against a leaf
  * instead of re-running the plan. Its blocks stay pinned until
  * [[free]] releases them.
  */
object Fixpoint {

  /** Aggregates observed on one checkpoint's job, by name. The
    * optimizer drops the observation of a plan it proves empty,
    * leaving no entry at all: a missing name means zero rows. */
  type Metrics = Map[String, Any]

  /** A loop's final state, the metrics observed on it, and the
    * number of rounds run. */
  final case class Result(state: DataFrame, metrics: Metrics, rounds: Int)

  /** Serialized-block checkpoint (MEMORY_AND_DISK_SER), the storage
    * discipline for big artifacts and loop state. The deserialized
    * default holds Java object graphs in memory and re-promotes
    * evicted disk blocks into memory on every read: at the 100×
    * DeepScale corpus that OOM'd a 3 GB heap, while serialized
    * blocks stay compact byte buffers that spill and re-read
    * gracefully, and a closure-scale pair table does not pin row
    * objects in the driver-sized heap of a single-shot cold run.
    * The ser/deser cost is paid per read and is small next to the
    * joins these tables feed. */
  def ser(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Disk-resident checkpoint (DISK_ONLY) for bulk, corpus-position
    * or corpus-output-scale artifacts (the suffix-array tables, the
    * entailed graph): several of them held at once sum past any
    * capped heap, and the sf1 / 3 GB rehearsal OOM'd in a block
    * unroll with them memory-resident. Consumers re-read them
    * sequentially. The LogicalRDD keeps the child's partitioning and
    * ordering only when the plan ran with AQE off (as
    * `SuffixArray.build` runs it): under AQE the checkpoint reports
    * `UnknownPartitioning` and no ordering (OPTIMIZATION_r18.md,
    * finding 1), and every consumer re-exchanges. */
  def disk(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.DISK_ONLY)

  /** [[ser]] with the aggregate `metrics` observed on the
    * checkpoint's own job, so a row count or a convergence test
    * costs no second job re-reading the checkpoint. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Metrics) = {
    val seen = Observation()
    val out = ser(df.observe(seen, metrics.head, metrics.tail: _*))
    (out, seen.get)
  }

  /** The long metric `name`; zero when the observation was dropped. */
  def long(m: Metrics, name: String): Long =
    m.getOrElse(name, 0L).asInstanceOf[Long]

  /** Release the blocks of a checkpoint made here. */
  def free(df: DataFrame): Unit =
    org.apache.spark.sql.graftshim.ColumnBridge.freeLocalCheckpoint(df)

  /** Drive a loop whose state is one table replaced each round.
    *
    * `start` is the initial state as [[observed]] returns it: the
    * caller checkpoints it, so the metrics observed on it can size
    * the scope (a [[LoopConf]] width) the rounds run in. (A start
    * that is a plan with no metrics is computed inside round 1.)
    * Round `r`
    * (from 1) builds `step(state, metrics of state, r)` and
    * checkpoints it once with `metrics` observed on that same job;
    * that is the round's only action. The loop ends when
    * `stop(previous metrics, new metrics)` holds or after
    * `maxRounds` rounds. Each superseded state is freed; the final
    * one belongs to the caller. A round's jobs carry the description
    * `"<loop> round <r>"`; the previous description is restored
    * after each round. */
  def iterate(loop: String, start: (DataFrame, Metrics),
      metrics: Seq[Column], maxRounds: Int = Int.MaxValue)(
      step: (DataFrame, Metrics, Int) => DataFrame)(
      stop: (Metrics, Metrics) => Boolean): Result = {
    val sc = start._1.sparkSession.sparkContext
    var (state, last) = start
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val desc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$loop round $rounds")
      val (next, m) = try observed(step(state, last, rounds), metrics: _*)
        finally sc.setJobDescription(desc)
      free(state)
      done = stop(last, m)
      state = next
      last = m
    }
    Result(state, last, rounds)
  }
}
