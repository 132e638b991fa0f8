package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Fixpoint
import graft.functions.NativeFunctions

/** Cross-snapshot incremental ANN: the persisted-index side of IVF
  * vector search — the same maintenance ladder [[DedupIndex]] gives
  * MinHash dedup (build once → persist → probe arriving shards
  * asymmetrically → streaming twin), for the vector lane.
  *
  * A production 100 TB vector corpus never re-trains or re-assigns
  * itself when a new shard of embeddings arrives — it keeps the
  * converged IVF structure (centroids + per-vector inverted-list
  * assignments) as a STORED INDEX, assigns the arriving vectors
  * map-side, and probes only the nprobe nearest lists per query.
  * This object holds that lifecycle:
  *
  *  - [[lloyd]]: capped-Lloyd (k-means) training over ANY quantized
  *    vector table — the loop the batch queries already converge
  *    ([[LlmQueries]]'s `llm_kmeans_converged`), generalized so the
  *    index build can train on the index corpus only.
  *  - [[assign]]: fully map-side nearest-centroid assignment — the
  *    centroid table collapses to one broadcast row and the argmax
  *    is the codegen'd `nearest_centroid` kernel;
  *    zero corpus exchange.
  *  - [[write]] / [[read]] / [[Stored]]: persist centroids +
  *    assignments as parquet, assignments PARTITIONED BY `cid` — on
  *    disk the inverted lists ARE the partition directories, so an
  *    nprobe probe prunes the scan at the source (partition
  *    pruning, not a filter over a full scan).
  *  - [[probe]]: top-k neighbors for an arriving shard against the
  *    stored lists, with the broadcast asymmetry a real probe has:
  *    the ARRIVING side (delta-sized) is broadcast; the
  *    corpus-scale assignment table is only ever scanned map-side,
  *    and ranking is the bounded-heap [[graft.functions.TopKByLong]]
  *    aggregate (exchange O(partitions × k), never the scored
  *    candidate set through a window).
  *
  * The quantization (`float → floor(x·1000)` longs) is shared with
  * the batch chain via [[LlmQueries.quantizeExpr]] — one definition,
  * so a quantizer change cannot fork the index format from the
  * query semantics.
  */
object AnnIndex {

  /** Handles to a persisted index, both tables read back FROM
    * PARQUET so every probe consumes the stored artifact, never the
    * lineage that built it. `centroids`: (cid, cv) — k rows.
    * `assignments`: (vec_id, qv, cid) — corpus-scale, partitioned
    * by cid on disk. */
  final case class Stored(centroids: DataFrame, assignments: DataFrame)

  /** Map-side nearest-centroid assignment of `vectors`
    * (vec_id, qv) against `cent` (cid, cv): the centroid table is
    * collapsed to a single sorted array-of-structs row and
    * broadcast; the argmax is row-local codegen
    * (`nearest_centroid`: max inner product, ties
    * to smallest cid). The corpus streams through untouched — the
    * shape that survives 100 TB. */
  def assign(vectors: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
        .as("cents"))
    vectors.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("qv"),
        NativeFunctions.nearestCentroid(col("qv"), col("cents")).as("cid"))
  }

  /** Capped-Lloyd k-means over a quantized vector table
    * (vec_id, qv): seeds are the vectors with `vec_id < k` (the
    * deterministic seed rule the batch queries pin), then up to
    * `iters` refinement rounds — each an [[assign]] pass plus an
    * integer-mean recompute through the map-side
    * [[graft.functions.VecSumLong]] partial sums (the exchange
    * carries one long[dim] per (cluster, partition), never the
    * corpus). The rounds run on [[graft.Fixpoint.iterate]]; a round
    * converges when [[unchanged]]. Returns (cid, cv, n_vecs). */
  def lloyd(s: SparkSession, vectors: DataFrame, k: Int,
      iters: Int): DataFrame = {
    val start = Fixpoint.observed(vectors.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("qv").as("cv"),
        lit(0L).as("n_vecs"), lit(true).as("moved")), moveMetrics: _*)
    Fixpoint.iterate("lloyd", start, moveMetrics, iters) { (cent, _, _) =>
      withMoves(assign(vectors, cent.select(col("cid"), col("cv")))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          graft.functions.VecSumLong.vecSum(col("qv")).as("sums"))
        .select(col("cid"),
          expr("transform(sums, x -> x div n_vecs)").as("cv"),
          col("n_vecs")), cent)
    }(unchanged).state.drop("moved")
  }

  /** The `next` centroid rows (cid, cv, n_vecs), each flagged
    * `moved` when `prev` has no row with its (cid, cv). */
  private[graft] def withMoves(next: DataFrame, prev: DataFrame): DataFrame =
    next.join(prev.select(col("cid").as("pcid"), col("cv").as("pcv")),
        col("cid") === col("pcid"), "left")
      .select(col("cid"), col("cv"), col("n_vecs"),
        (col("pcid").isNull || !(col("cv") <=> col("pcv"))).as("moved"))

  private[graft] val moveMetrics =
    Seq(count(lit(1)).as("n"), count(when(col("moved"), 1)).as("moved"))

  /** No row moved and none vanished. Over cid-keyed tables this is
    * exactly the two-way EXCEPT test: no moved row means next ⊆ prev,
    * and with as many rows, next = prev. A cluster that empties drops
    * its cid and so lowers the count. */
  private[graft] def unchanged(prev: Fixpoint.Metrics,
      cur: Fixpoint.Metrics): Boolean =
    Fixpoint.long(cur, "moved") == 0L &&
      Fixpoint.long(cur, "n") == Fixpoint.long(prev, "n")

  /** Build + persist the index for `vectors`: train capped-Lloyd
    * centroids, assign every vector to its list, and write both —
    * assignments partitioned by `cid`, so the inverted lists are
    * physical partition directories and an nprobe probe reads only
    * nprobe of them. One-time backfill cost: the training rounds +
    * one partitioned write (a single corpus shuffle on cid). */
  def write(s: SparkSession, vectors: DataFrame, path: String,
      k: Int, iters: Int): Stored = {
    val cent = lloyd(s, vectors, k, iters).select(col("cid"), col("cv"))
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    val centStored = s.read.parquet(s"$path/centroids")
    // the backfill is the ledger's init batch (−1): extends stamp
    // foreachBatch ids (≥ 0), so a restarted stream's batch 0 can
    // never collide with the build (see extend's ledger)
    graft.streaming.BatchManifest.initStore(
      assign(vectors, centStored), s"$path/assignments", Seq("cid"))
    read(s, path)
  }

  /** Read back a persisted index. Assignments pass through the
    * ledger's COMMITTED view: an extend that crashed between its
    * data write and its ledger commit leaves orphan `batch_id`
    * partitions, and a probe / drift / retrain run before the
    * stream replays that batch must not see them (same isolation
    * the incremental-dedup read path holds). The filter is
    * partition pruning on `batch_id` — never a data scan. */
  def read(s: SparkSession, path: String): Stored = Stored(
    s.read.parquet(s"$path/centroids"),
    graft.streaming.BatchManifest.committedOnly(s,
        s"$path/assignments", s.read.parquet(s"$path/assignments"))
      .select(col("vec_id"), col("qv"), col("cid")))

  /** Top-`k` neighbors per arriving vector (vec_id, qv) against the
    * stored lists. Per arriving query: rank the stored centroids by
    * inner product (a (arriving × nlists)-row window partitioned
    * per query — delta-sized, never corpus-sized), keep the top
    * `nProbe` lists, then join the delta-sized probe set BROADCAST
    * against the assignment scan — with partition pruning doing the
    * real work at scale (only the probed cid directories are read)
    * — score with the codegen'd long dot product, and rank through
    * the bounded-heap aggregate. Output (q_id, vec_id, rank, ip),
    * rank 1 = best, ties ip desc then vec_id asc. */
  def probe(arriving: DataFrame, stored: Stored, k: Int,
      nProbe: Int): DataFrame = {
    val q = arriving.select(col("vec_id").as("q_id"), col("qv").as("qvec"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cip").desc, col("cid"))
    val probes = q.crossJoin(broadcast(stored.centroids))
      .withColumn("cip",
        graft.functions.DotProductLong(col("qvec"), col("cv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("cid").as("probe_cid"))
    val scored = stored.assignments.join(broadcast(probes),
        col("cid") === col("probe_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("ip",
        graft.functions.DotProductLong(col("qv"), col("qvec")))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKByLong.topK(col("ip"), col("vec_id"), k)
        .as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("q_id"), col("x.id").as("vec_id"),
        (col("p0") + 1).cast("int").as("rank"), col("x.score").as("ip"))
  }

  /** Per-inverted-list drift statistics of a stored index against
    * an arriving shard — the measurement the maintenance loop
    * thresholds to decide when the frozen centroids stop fitting
    * the data: member count and assignment-mass share (×1000) of
    * the indexed corpus vs the arriving shard, plus the mean
    * member→centroid inner product of each (the engine's
    * similarity metric; a falling arriving-side mean or a diverging
    * mass share is the re-train signal). Reads ONLY the stored
    * artifacts + the shard: one map-side pass per side with the
    * ≤k-row centroid table broadcast, then ≤k-row arithmetic.
    * Integer-exact (`div` floor pairing with the oracle's `//`).
    * Backs `llm_ivf_drift` and [[retrainIfDrifted]]. */
  def drift(stored: Stored, arriving: DataFrame): DataFrame = {
    val cent = stored.centroids
    def cidIp(df: DataFrame): DataFrame = df
      .join(broadcast(cent), Seq("cid"))
      .select(col("cid"),
        graft.functions.DotProductLong(col("qv"), col("cv")).as("ip"))
    val idx = cidIp(stored.assignments)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_indexed"), sum(col("ip")).as("sip"))
    val arr = cidIp(assign(arriving, cent))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_arriving"), sum(col("ip")).as("sap"))
    val base = cent.select(col("cid"))
      .join(idx, Seq("cid"), "left")
      .join(arr, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_indexed"), lit(0L)).as("n_indexed"),
        coalesce(col("n_arriving"), lit(0L)).as("n_arriving"),
        col("sip"), col("sap"))
    val tot = base.agg(sum(col("n_indexed")).as("ti"),
      sum(col("n_arriving")).as("ta"))
    base.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_indexed"), col("n_arriving"),
        expr("(1000 * n_indexed) div ti").as("idx_share_x1000"),
        expr("(1000 * n_arriving) div ta").as("arr_share_x1000"),
        // every stored cid has members (lloyd emits only non-empty
        // clusters); the arriving side can miss a list entirely
        expr("sip div n_indexed").as("ip_indexed_mean"),
        when(col("n_arriving") === 0L, lit(-1L))
          .otherwise(expr("sap div n_arriving"))
          .as("ip_arriving_mean"))
  }

  /** The maintenance decision the drift stats exist for: measure
    * the arriving shard against the stored index and RE-TRAIN
    * (capped-Lloyd over index ∪ shard, same k/iters as the build)
    * when any inverted list's arriving-mass share diverges from its
    * indexed share by more than `maxShareDelta1000` (×1000 units —
    * the default 250 = 25 percentage points). Returns true iff a
    * re-train happened.
    *
    * Crash discipline: the new index builds COMPLETELY under
    * `<path>.next` (training + partitioned write), and only then
    * swaps directories (live → `.old`, `.next` → live) — a crash
    * mid-build leaves the live index untouched; a crash between the
    * two renames leaves `.old` recoverable. The decision itself is
    * ≤k rows collected from the drift frame — driver-bounded. */
  def retrainIfDrifted(s: SparkSession, path: String,
      arriving: DataFrame, k: Int, iters: Int,
      maxShareDelta1000: Long = 250L): Boolean = {
    val stored = read(s, path)
    val worst = drift(stored, arriving)
      .agg(max(abs(col("arr_share_x1000") - col("idx_share_x1000"))))
      .head.getLong(0)
    if (worst <= maxShareDelta1000) false
    else {
      retrain(s, path,
        stored.assignments.select(col("vec_id"), col("qv"))
          .union(arriving.select(col("vec_id"), col("qv"))), k, iters)
      true
    }
  }

  /** Re-train over `corpus` and atomically replace the index at
    * `path`: the new index builds COMPLETELY under `<path>.next`
    * (training + partitioned write), then two renames swap it live
    * — a crash mid-build leaves the live index untouched; a crash
    * between the renames leaves `.old` recoverable. */
  private def retrain(s: SparkSession, path: String,
      corpus: DataFrame, k: Int, iters: Int): Unit = {
    write(s, corpus, s"$path.next", k, iters)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def p(x: String) = new org.apache.hadoop.fs.Path(x)
    fs.delete(p(s"$path.old"), true)
    require(fs.rename(p(path), p(s"$path.old")),
      s"index swap: could not retire $path")
    require(fs.rename(p(s"$path.next"), p(path)),
      s"index swap: could not promote $path.next")
    fs.delete(p(s"$path.old"), true)
  }

  /** Trailing-window TREND over a persisted drift-frame series —
    * the aggregation that distinguishes SUSTAINED drift from a
    * one-batch spike, which a single-shard threshold
    * ([[retrainIfDrifted]]) cannot. `frames` is a union of [[drift]]
    * outputs with a `batch_seq` ordering column (the streaming
    * monitor's `batch_id`); only the trailing `window` frames
    * count. Per inverted list: frames seen in the window, min and
    * max |arriving share − indexed share|, and `sustained` = 1 iff
    * the window is FULL and even its SMALLEST delta exceeds the
    * threshold — min-gating, so one calm batch (e.g. right after a
    * re-train) resets the trigger, and one spiky batch can never
    * fire it. Everything after the ≤ window×k-row filter is
    * integer arithmetic on ≤ k rows. */
  def driftTrend(frames: DataFrame, window: Int,
      maxShareDelta1000: Long): DataFrame = {
    val seqMax = frames.agg(max(col("batch_seq")).as("max_seq"))
    frames.crossJoin(broadcast(seqMax))
      .filter(col("batch_seq") > col("max_seq") - window)
      .select(col("cid"),
        abs(col("arr_share_x1000") - col("idx_share_x1000"))
          .as("delta"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_frames"),
        min(col("delta")).as("min_delta"),
        max(col("delta")).as("max_delta"))
      .select(col("cid"), col("n_frames"), col("min_delta"),
        col("max_delta"),
        when(col("n_frames") === window &&
          col("min_delta") > maxShareDelta1000, 1L).otherwise(0L)
          .as("sustained"))
  }

  /** The trend-gated re-train decision: read the drift-frame series
    * the streaming monitor persists at `statsPath`
    * ([[graft.streaming.DocsStream.startAnnDriftMonitor]] — one
    * [[drift]] frame per micro-batch, ledger-guarded), apply
    * [[driftTrend]] over the trailing `window` batches, and
    * re-train (over the stored assignment corpus, which already
    * contains every extended shard) iff ANY list drifted in EVERY
    * window frame. Replaces [[retrainIfDrifted]]'s single-shard
    * gate for deployments with a monitor stream: a transient spike
    * (one hot batch) no longer triggers the backfill, and a
    * sustained shift cannot hide behind one calm batch after it
    * (min-gating needs the FULL window calm to reset). Frames are
    * read through the ledger's committed view — a crashed monitor
    * batch cannot skew the decision. Returns true iff a re-train
    * happened; frames written after it measure against the NEW
    * centroids, so deltas collapse and the window re-arms itself. */
  def retrainIfTrendDrifted(s: SparkSession, path: String,
      statsPath: String, window: Int, k: Int, iters: Int,
      maxShareDelta1000: Long = 250L): Boolean = {
    val frames0 = graft.streaming.Artifacts
      .readParquet(s, statsPath).getOrElse(return false)
    val frames = graft.streaming.BatchManifest
      .committedOnly(s, statsPath, frames0)
      .withColumn("batch_seq", col("batch_id"))
    val fire = !driftTrend(frames, window, maxShareDelta1000)
      .filter(col("sustained") === 1L).isEmpty
    if (!fire) false
    else {
      val stored = read(s, path)
      retrain(s, path,
        stored.assignments.select(col("vec_id"), col("qv")), k, iters)
      true
    }
  }

  // ---------------------------------------------------------------
  // Stored IVFPQ — the PQ half of the persisted index: per-subspace
  // RESIDUAL codebooks plus every index vector's sub-codes, written
  // beside the IVF artifact with codes PARTITIONED BY cid, so the
  // inverted lists of 5-byte code rows are the partition
  // directories a 100 TB probe actually reads (the embedding
  // column never enters the search scan). Same maintenance
  // discipline as the assignment store: ledger-guarded O(delta)
  // extends, committed-view reads.
  // ---------------------------------------------------------------

  /** Handles to a persisted PQ layer. `codebooks`: (j, rcid, cv) —
    * m × sample rows, long form. `codes`: (vec_id, cid, c1..cm) —
    * corpus-scale, partitioned by cid on disk. */
  final case class StoredPq(codebooks: DataFrame, codes: DataFrame)

  /** Integer residuals of a stored index's members against their
    * own list centroid — one broadcast join + an elementwise
    * zip_with; the corpus side streams map-side. */
  def residualsOf(stored: Stored): DataFrame =
    stored.assignments
      .join(broadcast(stored.centroids), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        expr("zip_with(qv, cv, (x, y) -> x - y)").as("rv"))

  /** The long-form codebook table collapsed to ONE broadcastable
    * row of per-subspace sorted struct arrays — the shape both the
    * encoder ([[encodePq]]) and the probe's LUT builder consume. */
  def booksArr(codebooks: DataFrame, m: Int): DataFrame =
    codebooks.agg(
      sort_array(collect_list(when(col("j") === 1,
        struct(col("rcid").as("cid"), col("cv"))))).as("cents1"),
      (2 to m).map(j =>
        sort_array(collect_list(when(col("j") === j,
          struct(col("rcid").as("cid"), col("cv"))))).as(s"cents$j"))
        : _*)

  /** PQ-encode residual rows (vec_id, cid, rv): one row-local
    * argmax per subspace against the broadcast codebook row —
    * zero corpus exchange, the [[assign]] shape applied m times. */
  def encodePq(residuals: DataFrame, arr: DataFrame, m: Int,
      dim: Int): DataFrame =
    residuals.crossJoin(broadcast(arr))
      .select(col("vec_id") +: col("cid") +: (1 to m).map(j =>
        NativeFunctions.nearestCentroid(
          expr(s"slice(rv, ${(j - 1) * dim + 1}, $dim)"),
          col(s"cents$j")).as(s"c$j")): _*)

  /** Build + persist the PQ layer over an existing stored index:
    * codebooks are the SAMPLE residuals (vec_id < `sample` among
    * the index corpus — the deterministic rule the batch lane
    * pins), codes are every member's m sub-codes, written
    * partitioned by cid under the ledger's init batch. One
    * map-side encode pass + one partitioned write. */
  def writePq(s: SparkSession, stored: Stored, path: String, m: Int,
      dim: Int, sample: Int): StoredPq = {
    val res = residualsOf(stored)
    val books = (1 to m).map(j =>
      res.filter(col("vec_id") < sample)
        .select(lit(j).as("j"), col("vec_id").cast("int").as("rcid"),
          expr(s"slice(rv, ${(j - 1) * dim + 1}, $dim)").as("cv")))
      .reduce(_ unionAll _)
    books.write.mode("overwrite").parquet(s"$path/codebooks")
    val arr = booksArr(s.read.parquet(s"$path/codebooks"), m)
    graft.streaming.BatchManifest.initStore(
      encodePq(res, arr, m, dim), s"$path/codes", Seq("cid"))
    readPq(s, path)
  }

  /** Read back a persisted PQ layer — codes through the ledger's
    * committed view (orphan extend partitions invisible, partition
    * pruning on batch_id), like [[read]]. */
  def readPq(s: SparkSession, path: String): StoredPq = {
    val codes0 = s.read.parquet(s"$path/codes")
    val m = codes0.columns.count(_.matches("c\\d+"))
    StoredPq(
      s.read.parquet(s"$path/codebooks"),
      graft.streaming.BatchManifest.committedOnly(s, s"$path/codes",
          codes0)
        .select(col("vec_id") +: col("cid") +:
          (1 to m).map(j => col(s"c$j")): _*))
  }

  /** Top-`k` IVFPQ ADC probe of an arriving shard against the
    * stored fused index: per arriving query, rank the stored
    * centroids (delta-sized window), keep `nProbe` lists, build
    * per-subspace LUTs against the broadcast codebook row, and
    * score the probed lists' CODE rows as
    * list_ip + m map lookups — the corpus-side scan touches only
    * the 5-byte code rows plus two broadcast smalls, and ranking is
    * the bounded heap. Output (q_id, vec_id, rank, ip). */
  def probePq(arriving: DataFrame, stored: Stored, pq: StoredPq,
      k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    val q = arriving.select(col("vec_id").as("q_id"),
      col("qv").as("qvec"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cip").desc, col("cid"))
    val probes = q.crossJoin(broadcast(stored.centroids))
      .withColumn("cip",
        graft.functions.DotProductLong(col("qvec"), col("cv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id").as("lq"), col("cid").as("probe_cid"),
        col("cip").as("list_ip"))
    val arr = booksArr(pq.codebooks, m)
    val luts = q.crossJoin(broadcast(arr))
      .select(col("q_id") +: (1 to m).map(j =>
        map_from_entries(transform(col(s"cents$j"), c =>
          struct(c.getField("cid"),
            graft.functions.DotProductLong(
              expr(s"slice(qvec, ${(j - 1) * dim + 1}, $dim)"),
              c.getField("cv"))))).as(s"lut$j")): _*)
    val scoreExpr = (1 to m).map(j =>
      s"element_at(lut$j, c$j)").mkString("list_ip + ", " + ", "")
    val scored = pq.codes
      .join(broadcast(probes), col("cid") === col("probe_cid"))
      .join(broadcast(luts), col("lq") === col("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(scoreExpr).as("ip"))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKByLong.topK(col("ip"), col("vec_id"), k)
        .as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("q_id"), col("x.id").as("vec_id"),
        (col("p0") + 1).cast("int").as("rank"), col("x.score").as("ip"))
  }

  /** The rows one extend batch appends to the code lists: assign
    * the arriving vectors against the STORED centroids, take
    * integer residuals, encode against the STORED codebooks — all
    * map-side against broadcast smalls, nothing corpus-scale. */
  def extendPqFrame(arriving: DataFrame, stored: Stored,
      pq: StoredPq, m: Int, dim: Int): DataFrame = {
    val res = assign(arriving, stored.centroids)
      .join(broadcast(stored.centroids), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        expr("zip_with(qv, cv, (x, y) -> x - y)").as("rv"))
    encodePq(res, booksArr(pq.codebooks, m), m, dim)
  }

  /** O(delta) extend of the stored code lists — the
    * [[graft.streaming.BatchManifest]] protocol, exactly
    * [[extend]]'s semantics applied to the PQ layer (codebooks and
    * centroids stay frozen; periodic re-training is the separate
    * backfill). */
  def extendPq(arriving: DataFrame, stored: Stored, pq: StoredPq,
      path: String, batchId: Long, m: Int, dim: Int): Unit = {
    val spark = arriving.sparkSession
    val store = s"$path/codes"
    if (!graft.streaming.BatchManifest.applied(spark, store, batchId)) {
      graft.streaming.BatchManifest.writeBatch(
        extendPqFrame(arriving, stored, pq, m, dim), store, batchId,
        Seq("cid"))
      graft.streaming.BatchManifest.commit(spark, store, batchId)
    }
  }

  /** The rows one extend batch appends to the inverted lists: the
    * arriving vectors assigned against the STORED centroids — a
    * single map-side pass over the shard (centroids collapse to one
    * broadcast row), touching NOTHING corpus-scale. Exposed so the
    * plan spec can pin that shape (no scan of the assignment store,
    * no SortMergeJoin — AnnIndexExtendSpec). */
  def extendFrame(arriving: DataFrame, stored: Stored): DataFrame =
    assign(arriving, stored.centroids)

  /** Extend the stored index with an arriving shard: assign the
    * arriving vectors against the STORED centroids (map-side — the
    * index never re-trains on an append; periodic re-training is a
    * separate backfill) and append them to the assignment lists.
    *
    * O(delta) replay safety, the [[graft.streaming.BatchManifest]]
    * protocol: a committed `batchId` is a ledger-read no-op; an
    * uncommitted replay re-runs the deterministic assignment and
    * DYNAMIC-OVERWRITES its own `(cid, batch_id)` leaf directories,
    * healing any partial append — so an at-least-once retry
    * (`foreachBatch`) cannot double-insert AND the guard never
    * scans the corpus-scale assignment table (the previous
    * anti-join-the-whole-index spelling cost a corpus-scale scan
    * per micro-batch append; the ledger is one row per committed
    * batch). `cid` stays the outermost partition column, so nprobe
    * partition pruning is unchanged.
    *
    * Contract: arriving shards are id-disjoint DELTAS (the upstream
    * ingest's exact-dedup gate owns id uniqueness). Replays — the
    * at-least-once failure mode — are what the ledger absorbs; a
    * pipeline that re-feeds already-indexed ids as a NEW batch is
    * re-inserting data, which no O(delta) guard can distinguish
    * from a legitimate append. */
  def extend(arriving: DataFrame, stored: Stored, path: String,
      batchId: Long): Unit = {
    val spark = arriving.sparkSession
    val store = s"$path/assignments"
    if (!graft.streaming.BatchManifest.applied(spark, store, batchId)) {
      graft.streaming.BatchManifest.writeBatch(
        extendFrame(arriving, stored), store, batchId, Seq("cid"))
      graft.streaming.BatchManifest.commit(spark, store, batchId)
    }
  }
}
