package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Tables}
import Exact._

/** Relational query suite over the TPC-H-ish star schema
  * (TESTDATA.md). These are the engine's headline analytical queries:
  * scan → filter → (broadcast) join → aggregate → window → top-k.
  *
  * Scale notes (100 TB thinking, verified via .explain on sf0.1):
  *  - only fixed-size dims (`region` 5 rows, `nation` 25 rows) are
  *    broadcast; `orders`/`customer`/`supplier` grow with the data
  *    and are shuffle-joined (AQE picks hash vs SMJ);
  *  - aggregations are partial (map-side combine) before the single
  *    hash-partition exchange on the group keys;
  *  - top-k uses ORDER BY + LIMIT → Spark's TakeOrderedAndProject
  *    (per-partition heap, no global sort);
  *  - all scans prune columns and push filters into the parquet
  *    reader (`PushedFilters`/`ReadSchema`).
  */
object RelationalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_q01_pricing_summary" -> pricingSummary,
    "rel_q02_topk_orders" -> topkOrders,
    "rel_q03_revenue_by_nation" -> revenueByNation,
    "rel_q04_window_top_orders" -> windowTopOrders,
    "rel_q05_events_hourly" -> eventsHourly,
    "rel_q06_customers_no_orders" -> customersNoOrders,
    "rel_q07_mktsegment_stats" -> mktsegmentStats,
    "rel_q08_order_priority" -> orderPriority,
    "rel_q09_rollup" -> segmentNationRollup,
    "rel_q10_events_json" -> eventsJson,
    "rel_q11_sessions" -> sessions,
    "rel_q12_asof_attribution" -> asofAttribution,
    "rel_q13_events_pivot" -> eventsPivot,
    "rel_q14_repeat_customers" -> repeatCustomers,
    "rel_q15_moving_window" -> movingWindow,
    "rel_q16_median_price" -> medianPrice,
    "rel_q17_supplier_region" -> supplierRegion,
    "rel_q18_date_revenue" -> dateRevenue,
    "rel_q19_salted_parts" -> saltedParts,
    "rel_q20_grouping_sets" -> groupingSets,
    "rel_q21_funnel" -> funnel,
    "rel_q22_asof_native" -> asofNative,
    "rel_q23_price_quartiles" -> priceQuartiles,
    "rel_q24_retention" -> retention,
    "rel_q25_median_sketch" -> medianSketch,
    "rel_q26_quartiles_sketch" -> quartilesSketch,
    "rel_q27_range_join" -> rangeJoinBucketed,
    "rel_q28_user_gaps" -> userGaps,
    "rel_q29_above_brand_avg" -> aboveBrandAvg,
    "rel_q30_full_outer" -> fullOuterActivity,
    "rel_q31_hourly_anomaly" -> hourlyAnomaly,
    "rel_q32_entity_fuzzy" -> entityFuzzy,
    "rel_q33_triangles" -> triangleCount,
    "rel_q34_kcore" -> kcore,
    "rel_q35_zorder" -> zorderEvents,
    "rel_q36_skyline" -> skyline,
    "rel_q37_resample" -> resampleLocf,
    "rel_q38_communities" -> communities,
    "rel_q39_skyline_incr" -> skylineIncremental,
    "rel_q40_unpivot" -> unpivotMetrics,
    "rel_q41_profile" -> columnProfile,
    "rel_q42_scd2" -> scd2Dimension,
    "rel_q43_expectations" -> expectations,
    "rel_q44_components" -> components,
    "rel_q45_components_incr" -> componentsIncremental,
    "rel_q46_decay" -> decayScore,
    "rel_q47_triangles_incr" -> trianglesIncremental,
    "rel_q48_session_native" -> sessionNative,
    "rel_q49_rolling_uniques" -> rollingUniques,
    "rel_q50_inclusion" -> inclusionProfile,
  )

  /** Declarative data-quality expectation suite
    * (`rel_q43_expectations`) — the Deequ-style constraint pass a
    * warehouse runs on every ingest before downstream jobs trust the
    * table: six constraints over `orders` (key uniqueness, two
    * completeness checks, a value-range check, an accepted-values
    * check, and referential integrity against `customer`) evaluated
    * in ONE pass — a single left join on the foreign key (both sides
    * data-dependent: shuffle join, AQE picks the strategy) feeding a
    * single global aggregate whose conditional sums are all partial
    * (map-side) — then pivoted to one row per constraint with
    * `stack`. The only two-phase piece is the exact
    * `count(distinct)` the uniqueness constraint needs (the same
    * price Deequ pays; swap for approx_count_distinct when a
    * tolerance is declared). The oracle recomputes every metric as
    * independent scalar SQL and UNION ALLs the rows. */
  def expectations(spark: SparkSession, dir: String): DataFrame =
    expectationsOf(Tables(spark, dir, "orders"),
      Tables(spark, dir, "customer"))

  /** [[expectations]]' core over explicit orders/customer frames
    * (spec surface). */
  private[graft] def expectationsOf(ord: DataFrame,
      customer: DataFrame): DataFrame = {
    val cust = customer.select(col("c_custkey"))
    val j = ord.join(cust, col("o_custkey") === col("c_custkey"), "left")
    val m = j.agg(
      count(lit(1)).as("total"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("u_viol"),
      sum(when(col("o_orderpriority").isNull ||
        col("o_orderpriority") === "", 1L)
        .otherwise(0L)).as("c_viol"),
      sum(when(col("o_totalprice") < 0 || col("o_totalprice") > 600000,
        1L).otherwise(0L)).as("r_viol"),
      sum(when(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("v_viol"),
      sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("f_viol"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("d_viol"))
    m.select(expr(
        """stack(6,
          |  'orders.o_custkey.ref_customer', total, f_viol,
          |  'orders.o_orderdate.complete', total, d_viol,
          |  'orders.o_orderkey.unique', total, u_viol,
          |  'orders.o_orderpriority.complete', total, c_viol,
          |  'orders.o_orderstatus.values', total, v_viol,
          |  'orders.o_totalprice.range', total, r_viol)
          |AS (expectation, total, violations)""".stripMargin))
      .withColumn("pass", col("violations") === 0L)
      .orderBy(col("expectation"))
  }

  /** Connected components over the part co-purchase graph
    * (`rel_q44_components`) — the graph census member between
    * any-label reach and the density family (triangles, k-core,
    * LPA): parts are linked when some order buys both, and the
    * component rollup (representative = min part id, size) is what
    * an assortment/substitution analysis reads. Reuses the engine's
    * converged min-label + pointer-jumping CC
    * ([[graft.llm.LlmQueries.ccFromPairs]] — one shuffle per round,
    * O(log diameter) rounds, serialized-block checkpoints) on this
    * graph; the rollup is memoized per snapshot and the interior
    * label table freed once it materializes (the LPA artifact
    * discipline). The oracle computes the same fixpoint as a
    * set-semantics recursive closure — a different algorithm
    * entirely, so convergence itself is what's being checked. */
  def components(spark: SparkSession, dir: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(spark, s"cc-parts:$dir") {
      // the SPARSE pairing (each order's first two lines only):
      // unlike the LPA graph's dense <=3 clique closure this leaves
      // a real component structure (~21 components at sf0.01)
      // instead of one giant blob — the rollup actually says
      // something, and CC cost scales with edges, not order sizes
      componentsOf(Tables(spark, dir, "lineitem")
        .filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          col("l_linenumber").as("ln")))
    }

  /** INCREMENTAL connected components (`rel_q45_components_incr`) —
    * the cross-snapshot form of [[components]], completing the
    * incremental axis for the graph census the way
    * `rdf_reachable_incr` does for closure: the existing snapshot's
    * labels are a stored artifact; an arriving edge shard merges
    * components WITHOUT re-running CC on the corpus, by CONTRACTION:
    *
    *  1. map each delta edge's endpoints through the stored labels
    *     (an unlabeled endpoint is a brand-new node — itself); the
    *     join is delta-keyed, so at scale the DELTA broadcasts onto
    *     one pass of the label artifact;
    *  2. run converged CC on the CONTRACTED graph — nodes are
    *     component representatives + new nodes, edges are the
    *     delta's — which is delta-sized, never corpus-sized;
    *  3. rebuild the rollup at COMPONENT granularity: untouched
    *     components pass through; touched ones re-key their stored
    *     sizes by the merged representative and add their new-node
    *     counts. Nothing corpus-scale is read at all.
    *
    * Representatives stay min-node-ids under contraction (min over
    * merged mins = global min), so the incremental rollup is
    * BIT-EQUAL to a full recompute over base ∪ delta — which is
    * exactly what the oracle computes (the recursive-closure full
    * CC), making "incremental == full rebuild" the checked contract.
    * `touched` marks components the delta reached. */
  def componentsIncremental(spark: SparkSession,
      dir: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(spark, s"cc-incr:$dir") {
      val li = Tables(spark, dir, "lineitem")
        .filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          col("l_linenumber").as("ln"))
      // the stored artifact: labels of the existing snapshot
      val baseLabels = graft.SnapshotMemo.getOrCompute(spark,
        s"cc-base-labels:$dir") {
        graft.llm.LlmQueries.ccFromPairs(
          linePairsOf(li.filter(col("ok") % 10 =!= 7)))
      }
      componentsMerge(baseLabels,
        linePairsOf(li.filter(col("ok") % 10 === 7)))
    }

  /** First-line→second-line part pairs of a (ok, pk, ln) line table
    * — the shared edge rule of the CC family. */
  private def linePairsOf(f: DataFrame): DataFrame =
    f.as("x").join(f.as("y"),
        col("x.ok") === col("y.ok") &&
          col("x.ln") === 1 && col("y.ln") === 2 &&
          col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("doc_a"), col("y.pk").as("doc_b"))
      .distinct()

  /** [[componentsIncremental]]'s contraction core over explicit
    * stored labels + delta pairs (spec surface). */
  private[graft] def componentsMerge(baseLabels: DataFrame,
      dPairs: DataFrame): DataFrame = {
      // endpoint → representative (or itself when new)
      def lbl(side: String): DataFrame = baseLabels
        .select(col("doc_id").as(side),
          col("cluster_id").as(s"l_$side"))
      val contracted = dPairs
        .join(lbl("doc_a"), Seq("doc_a"), "left")
        .join(lbl("doc_b"), Seq("doc_b"), "left")
        .select(
          coalesce(col("l_doc_a"), col("doc_a")).as("ca"),
          coalesce(col("l_doc_b"), col("doc_b")).as("cb"))
        .select(least(col("ca"), col("cb")).as("doc_a"),
          greatest(col("ca"), col("cb")).as("doc_b"))
        .distinct()
      val (chk, merged) =
        graft.llm.LlmQueries.ccFromPairsChk(contracted)
      // merged: (doc_id = contracted node, cluster_id = posterior
      // representative); self-edges keep internally-touched
      // components present
      val m = merged.select(col("doc_id").as("cnode"),
        col("cluster_id").as("merged"))
      val baseRollup = baseLabels
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      val newNodes = dPairs.select(col("doc_a").as("node"))
        .union(dPairs.select(col("doc_b").as("node"))).distinct()
        .join(baseLabels.select(col("doc_id").as("node")),
          Seq("node"), "left_anti")
      val touched = baseRollup
        .join(m, col("cluster_id") === col("cnode"))
        .select(col("merged"), col("size"))
        .unionByName(newNodes
          .join(m, col("node") === col("cnode"))
          .select(col("merged"), lit(1L).as("size")))
        .groupBy(col("merged").as("component_id"))
        .agg(sum(col("size")).as("n_parts"))
        .withColumn("touched", lit(true))
      val untouched = baseRollup
        .join(m, col("cluster_id") === col("cnode"), "left_anti")
        .select(col("cluster_id").as("component_id"),
          col("size").as("n_parts"))
        .withColumn("touched", lit(false))
      val out = Fixpoint.ser(untouched.unionByName(touched)
        .orderBy(col("component_id")))
      Fixpoint.free(chk)
      out
    }

  /** [[components]]' core over an explicit (ok, pk, ln) line table
    * (spec surface): first-line→second-line part pairs, converged
    * CC, component-size rollup checkpointed with the interior label
    * table freed. */
  private[graft] def componentsOf(li: DataFrame): DataFrame = {
    val (chk, labels) =
      graft.llm.LlmQueries.ccFromPairsChk(linePairsOf(li))
    val rollup = Fixpoint.ser(labels
      .groupBy(col("cluster_id").as("component_id"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("component_id")))
    Fixpoint.free(chk)
    rollup
  }

  /** Type-2 slowly-changing-dimension historization
    * (`rel_q42_scd2`) — the warehouse op that turns an event stream
    * into VERSIONED validity intervals: consecutive same-type runs
    * of each user's events collapse into one row with
    * `[valid_from, valid_to)` microsecond bounds, a per-user version
    * number, and `is_current` on the open interval — the table every
    * point-in-time join reads. Deterministic total order by
    * (ts, event_id) so ties can't flap versions between engines.
    * Scale shape: one exchange on the user key; BOTH windows (the
    * change marker + running version, then the interval close via
    * lead) and the run collapse reuse that partitioning — windows
    * are user-bounded state, never a global sort. */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame =
    scd2Of(Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")))

  /** [[scd2Dimension]]'s core over any (user_id, event_id,
    * event_type, ts_us) frame (spec surface). */
  private[graft] def scd2Of(e: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val marked = e.withColumn("prev",
        lag(col("event_type"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNull ||
          col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(wOrd))
    val runs = marked.groupBy(col("user_id"), col("version"),
        col("event_type"))
      .agg(min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wVer = Window.partitionBy(col("user_id"))
      .orderBy(col("version"))
    runs
      .withColumn("valid_to_us",
        lead(col("valid_from_us"), 1).over(wVer))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Wide-to-long UNPIVOT (`rel_q40_unpivot`) — the melt operator
    * feature pipelines use to turn per-row metric COLUMNS into
    * (metric, value) rows for generic downstream aggregation, via
    * Spark's native `Dataset.unpivot` (Catalyst `Unpivot` node, not
    * a hand-rolled union of scans — ONE pass over the table
    * expanding 4 rows per input row map-side). Money-like doubles
    * ride as exact cents; the rollup is one combine-collapsed
    * exchange on the 4-key metric space. The oracle spells the
    * same reshape as the UNION ALL definition. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_quantity") * 100).cast("long").as("quantity_c"),
        cents(col("l_extendedprice")).as("extendedprice_c"),
        cents(col("l_discount")).as("discount_c"),
        cents(col("l_tax")).as("tax_c"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("quantity_c"), col("extendedprice_c"),
          col("discount_c"), col("tax_c")),
        "metric", "v")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_c"),
        min(col("v")).as("min_c"), max(col("v")).as("max_c"))

  /** One-pass column profiler (`rel_q41_profile`) — the ANALYZE
    * operator a warehouse runs before planning and a pipeline runs
    * as a data-quality gate: per column of `customer`, row/null
    * counts, EXACT distinct cardinality, and lexicographic min/max
    * of the string form (doubles ride as cents so no float
    * formatting crosses the engine boundary). ONE scan explodes
    * each row into its (column, value) pairs map-side; the rollup
    * is a combine-collapsed aggregate on the column-name key space
    * (5 keys here) — never one pass per column. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey",
      "c_mktsegment")
    val pairs = cols.map(c =>
      s"struct('$c' AS cname, CAST($c AS STRING) AS v)") :+
      "struct('c_acctbal_c' AS cname, " +
        "CAST(CAST(ROUND(c_acctbal*100) AS BIGINT) AS STRING) AS v)"
    Tables(spark, dir, "customer")
      .select(explode(expr(pairs.mkString("array(", ", ", ")")))
        .as("p"))
      .select(col("p.cname").as("column_name"), col("p.v").as("v"))
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_s"), max(col("v")).as("max_s"))
  }

  /** Incremental skyline maintenance (`rel_q39_skyline_incr`) — the
    * refresh path: the BASE corpus's frontier is a stored
    * frontier-sized artifact (the only rows later arrivals can ever
    * interact with), and an arriving batch unions onto it for a
    * re-run whose input is frontier + delta, never the base corpus.
    * EXACT by domination monotonicity:
    * `skyline(B ∪ A) = skyline(skyline(B) ∪ A)` — a base point
    * dominated inside B is dominated by some B-frontier point
    * (transitivity through its dominator), so dropping non-frontier
    * base rows loses nothing and adding points never resurrects a
    * dominated one. The oracle is therefore the SAME O(n²)
    * domination definition over the FULL posterior set — the
    * incremental path must land on the from-scratch answer
    * bit-for-bit (the `rdf_reachable_incr` contract). */
  def skylineIncremental(spark: SparkSession, dir: String): DataFrame =
    // memoized per snapshot so warm repetitions do not strand one
    // frontier checkpoint each (the per-call artifact has no safe
    // free point — the caller consumes it)
    graft.SnapshotMemo.getOrCompute(spark, s"skyline-incr:$dir") {
      val pts = Tables(spark, dir, "part")
        .select(col("p_partkey").as("partkey"),
          cents(col("p_retailprice")).as("cents"),
          col("p_size").cast("long").as("size"))
      val base = graft.SnapshotMemo.getOrCompute(spark,
        s"skyline-base:$dir") {
        skylineArtifact(pts.filter(col("partkey") % 10 =!= 7))
      }
      // the outer pass ranges over frontier + delta only — artifact
      // form again so ITS interior checkpoint frees too
      skylineArtifact(base.union(pts.filter(col("partkey") % 10 === 7)))
    }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * part co-purchase graph (`rel_q38_communities`) — community
    * detection, the graph census between connected components
    * (any-label) and k-core (density): every node starts as its own
    * label; each round it adopts the PLURALITY label among its
    * neighbors, ties to the smallest label. Run a FIXED
    * [[LpaRounds]] rounds: synchronous LPA need not converge
    * (2-cycles exist on near-bipartite structures), but a
    * fixed-round schedule with a deterministic tie-break is exactly
    * replayable — the oracle unrolls the same rounds as chained
    * CTEs, so an engine that propagates asynchronously, includes
    * self-labels, or breaks ties by hash order diverges by round 2.
    *
    * The plurality argmax is ONE encoded max — `c·2⁴⁰ + (2⁴⁰−1−lab)`
    * orders by (count desc, label asc), the
    * [[graft.llm.LlmQueries]] dedup-priority encoding — no window,
    * no join-back. Per round: one node-keyed join of the static edge
    * table against the label table (both data-dependent — shuffle
    * equi-joins), one (node, label) combine-collapsed count, one
    * node-keyed max; the rounds run on [[graft.Fixpoint.iterate]].
    * Output is the community-size rollup on the final labels. */
  val LpaRounds = 4

  def communities(spark: SparkSession, dir: String): DataFrame =
    // the final rollup is the per-snapshot artifact (the
    // pagerank-converged discipline), with the interior edge/label
    // checkpoints FREED once it materializes — only the rollup
    // stays resident
    graft.SnapshotMemo.getOrCompute(spark, s"lpa-labels:$dir") {
      val (edges, lab, rollup) = communityRounds(
        Tables(spark, dir, "lineitem")
          .filter(col("l_linenumber") <= 3)
          .select(col("l_orderkey").as("ok"),
            col("l_partkey").as("pk")),
        LpaRounds)
      val snap = Fixpoint.ser(rollup)
      Fixpoint.free(edges)
      Fixpoint.free(lab)
      snap
    }

  /** [[communities]]' core over an explicit (ok, pk) membership
    * table (spec surface — transient form; the interior checkpoints
    * live until the session drops them, artifact callers go through
    * [[communities]]). */
  private[graft] def communitiesOf(li: DataFrame,
      rounds: Int): DataFrame = communityRounds(li, rounds)._3

  /** Returns (edge checkpoint, final label checkpoint, lazy rollup)
    * so artifact callers can free the interiors once the rollup
    * materializes. */
  private def communityRounds(li: DataFrame,
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    val n = count(lit(1)).as("n")
    val (edges, em) = Fixpoint.observed(li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct(), n)
    val enc = lit(1L << 40)
    // interior exchanges sized to the measured edge count
    // (graft.LoopConf discipline)
    graft.LoopConf.sized(li.sparkSession, Fixpoint.long(em, "n")) {
    val start = Fixpoint.observed(edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .distinct().withColumn("lab", col("node")), n)
    // a fixed round count: stop never fires
    val lab = Fixpoint.iterate("lpa", start, Seq(n), rounds) { (lab, _, _) =>
      val nbr = edges
        .join(lab.select(col("node").as("b"), col("lab")), Seq("b"))
        .select(col("a").as("node"), col("lab"))
        .union(edges
          .join(lab.select(col("node").as("a"), col("lab")), Seq("a"))
          .select(col("b").as("node"), col("lab")))
      nbr.groupBy(col("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(col("c") * enc + (enc - 1 - col("lab"))).as("e"))
        .select(col("node"),
          (enc - 1 - pmod(col("e"), enc)).as("lab"))
    } { (_, _) => false }.state
    (edges, lab, lab.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members")))
    }
  }

  /** Hourly gap-fill + last-observation-carried-forward resample
    * (`rel_q37_resample`) — the time-series regularization every
    * feature pipeline runs before a model sees event data: each
    * user's ragged event stream becomes a dense hourly grid from
    * their first to last active hour; silent hours carry the most
    * recent observation forward. Per user the query reports grid
    * size, gap count, total events, the sum of carried observations
    * over gap hours (wrong LOCF = wrong sum), and the longest
    * consecutive gap run (wrong grid = wrong run).
    *
    * LOCF without `IGNORE NULLS` (portable AND cheaper): the running
    * count of ACTIVE hours (ordered user-partitioned window) is a
    * segment id that starts a new segment at each observation, so
    * `max(obs) over (user, segment)` IS the carried value — every
    * window here is user-partitioned (bounded state, full
    * parallelism across users; never a 1-partition global sort).
    * Scale shape: one (user, hour) partial-agg exchange, one
    * user-grain span aggregate whose grid explode is map-side, one
    * co-keyed left join, user-keyed windows, and a user-grain
    * rollup. Grid size is span-bounded per user; a user with a year
    * of hours is 8.8 k rows — skew-safe. */
  def resampleLocf(spark: SparkSession, dir: String): DataFrame =
    resampleOf(Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 3600000000").as("hour")))

  /** [[resampleLocf]]'s core over any (user_id, event_id, hour)
    * frame. */
  def resampleOf(e: DataFrame): DataFrame = {
    val hourly = e.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("obs"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1)")).as("hour"))
    val filled = grid.join(hourly, Seq("user_id", "hour"), "left")
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    val seg = filled.withColumn("grp",
      sum(when(col("n").isNotNull, 1L).otherwise(0L)).over(wOrd))
    val carried = seg.withColumn("carried",
      max(col("obs")).over(
        Window.partitionBy(col("user_id"), col("grp"))))
    val perUser = carried.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("n").isNull, 1L).otherwise(0L)).as("n_gap"),
        sum(coalesce(col("n"), lit(0L))).as("sum_events"),
        sum(when(col("n").isNull, col("carried")).otherwise(0L))
          .as("sum_carried_gap"))
    val runs = carried.filter(col("n").isNull)
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("runlen"))
      .groupBy(col("user_id"))
      .agg(max(col("runlen")).as("lg"))
    perUser.join(runs, Seq("user_id"), "left")
      .select(col("user_id"), col("n_hours"), col("n_gap"),
        col("sum_events"), col("sum_carried_gap"),
        coalesce(col("lg"), lit(0L)).as("longest_gap"))
  }

  /** Distributed 2-D skyline (Pareto frontier) over `part`
    * (`rel_q36_skyline`): the parts no other part dominates —
    * cheaper-or-equal AND bigger-or-equal, strictly better in at
    * least one. The multi-objective shortlist operator (price vs
    * capacity here; cost vs quality, latency vs recall in general)
    * that a plain ORDER BY cannot express.
    *
    * Scale shape — the textbook sort-first skyline made
    * DISTRIBUTED without the single-partition global window it
    * naively wants: after a range repartition on price (equal keys
    * provably co-located), a row is in the skyline iff its size
    * exceeds the max size of all STRICTLY cheaper rows and ties the
    * max within its own price group. That prefix-max factors across
    * partition boundaries: per-partition maxima (a bounds-sized
    * aggregate, one row per partition) cumulate on the driver and
    * broadcast back as each partition's starting prefix, so the
    * corpus pays ONE range exchange + two linear scans of the
    * serialized-checkpointed shuffle output (the documented
    * two-pass-prefix discipline), never an all-pairs join and never
    * a 1-partition sort. Per-partition walks are the genuinely
    * imperative case (running max with same-price grouping) —
    * `mapPartitions` over sorted partitions. Output rows are exact;
    * the oracle is the O(n²) NOT-EXISTS domination definition,
    * structurally independent of the prefix factorization. */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(spark, s"skyline:$dir") {
      skylineArtifact(Tables(spark, dir, "part")
        .select(col("p_partkey").as("partkey"),
          cents(col("p_retailprice")).as("cents"),
          col("p_size").cast("long").as("size")))
    }

  /** [[skylineOf]] materialized as a frontier-sized snapshot
    * artifact, with the interior range-partitioned checkpoint FREED
    * once the frontier exists — without this every skyline call
    * strands a corpus-scale checkpointed copy in block-manager
    * storage for the session's lifetime (the pagerank-window leak
    * class). */
  private[graft] def skylineArtifact(pts: DataFrame): DataFrame = {
    val (ranged, out) = skylineRanged(pts)
    val snap = Fixpoint.ser(out)
    Fixpoint.free(ranged)
    snap
  }

  /** [[skyline]]'s core over any (partkey, cents, size) frame:
    * minimize `cents`, maximize `size`. Transient form (spec
    * surface): the interior checkpoint lives until the session
    * drops it — artifact callers use [[skylineArtifact]]. */
  def skylineOf(pts: DataFrame): DataFrame = skylineRanged(pts)._2

  private def skylineRanged(pts: DataFrame): (DataFrame, DataFrame) = {
    val spark = pts.sparkSession
    import spark.implicits._
    val nParts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // range partition on price ONLY (ties must stay co-located),
    // then sort each partition by (price asc, size desc) so the walk
    // sees each price group's max first
    val ranged = Fixpoint.ser(pts.repartitionByRange(nParts, col("cents"))
      .sortWithinPartitions(col("cents").asc, col("size").desc))
    // Both passes walk the checkpointed partitions at the RDD level
    // with mapPartitionsWithIndex: the index is the PARENT
    // partition's own (the range order), immune to a downstream
    // coalesce folding several range partitions into one task —
    // TaskContext.getPartitionId()/spark_partition_id() are NOT
    // (they name the running task, so a writer's coalesce(1) would
    // hand every partition slot 0's prefix).
    val rangedRdd = ranged.as[(Long, Long, Long)].rdd
    // pass 1: per-partition max size — one tiny row per partition,
    // no exchange at all
    val perPart = rangedRdd.mapPartitionsWithIndex { (pid, it) =>
      var mx = Long.MinValue
      var any = false
      it.foreach { r => any = true; if (r._3 > mx) mx = r._3 }
      if (any) Iterator.single((pid, mx)) else Iterator.empty
    }.collect().toMap
    // cumulative: partition p starts from the max over partitions
    // < p (their prices are strictly lower by range-bound
    // construction)
    val starts = new Array[Long](nParts)
    var run = Long.MinValue
    var p = 0
    while (p < nParts) {
      starts(p) = run
      run = math.max(run, perPart.getOrElse(p, Long.MinValue))
      p += 1
    }
    val startsBc = spark.sparkContext.broadcast(starts)
    val result = rangedRdd.mapPartitionsWithIndex { (pid, it) =>
      var cheaperMax = startsBc.value(pid)
      // rows arrive (cents asc, size desc): the first row of each
      // price group carries the group max, so a row survives iff it
      // beats cheaperMax and ties its group's first size
      var groupCents = Long.MinValue
      var groupMax = Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      it.foreach { case (k, c, s) =>
        if (c != groupCents) {
          if (groupCents != Long.MinValue)
            cheaperMax = math.max(cheaperMax, groupMax)
          groupCents = c
          groupMax = s
        }
        if (s == groupMax && s > cheaperMax) out += ((k, c, s))
      }
      out.iterator
    }.toDF("partkey", "cents", "size")
    (ranged, result)
  }

  /** 32-bit Morton (Z-order) interleave of two 16-bit dimensions —
    * the multi-dimensional clustering key behind data-skipping
    * layouts (public technique: Morton 1966; Delta/Iceberg OPTIMIZE
    * ZORDER): rows close in BOTH dimensions land close in the 1-D
    * sort order, so a range-partitioned write yields files whose
    * per-file min/max footer stats bound a SMALL rectangle of the
    * (a, b) domain — a predicate on either dimension prunes most
    * files at planning time, which 1-D sorting only achieves for its
    * leading column. 16 shift/mask/add steps per row, fully
    * codegen'd, map-side. */
  private[queries] def zval(a: Column, b: Column): Column = {
    var acc: Column = lit(0L)
    for (i <- 15 to 0 by -1) {
      acc = acc * 4 +
        shiftright(a, i).bitwiseAND(lit(1L)) * 2 +
        shiftright(b, i).bitwiseAND(lit(1L))
    }
    acc
  }

  /** The z-clustered write: ONE range exchange on the interleaved
    * key, then per-file footer stats do the pruning forever after.
    * [[ZOrderSpec]] measures the bounding-box shrinkage vs a
    * round-robin layout on the same data. */
  private[queries] def zorderWrite(e: DataFrame, path: String,
      nFiles: Int): Unit =
    e.withColumn("zv", zval(col("ux"), col("tx")))
      .repartitionByRange(nFiles, col("zv"))
      // the layout key is transient — per-file footer stats on the
      // REAL dimensions are what prune, and keeping zv would make
      // compaction schema-changing
      .drop("zv")
      .write.mode("overwrite").parquet(path)

  /** Incremental clustering maintenance — the OPTIMIZE ZORDER
    * pattern: arriving appends land wherever their writer put them
    * (whole-domain bounding boxes, no pruning), and compaction
    * rewrites the table z-clustered through the crash-safe
    * atomic-swap publish ([[graft.Pipeline.atomicReplace]]), so
    * readers either see the old layout or the new one, never a
    * partial rewrite. ONE range exchange per compaction, amortized
    * over every read until the next one. */
  def zorderCompact(spark: SparkSession, path: String,
      nFiles: Int): Unit =
    graft.Pipeline.atomicReplace(
      spark.read.parquet(path)
        .withColumn("zv", zval(col("ux"), col("tx")))
        .repartitionByRange(nFiles, col("zv"))
        .drop("zv"),
      path)

  /** Oracle surface for the interleave arithmetic: every event's
    * 16-bit (user, hour) coordinates and their Morton key, replayed
    * bit-for-bit by the DuckDB `>>`/`&` fold. */
  def zorderEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("ux"),
        // hour-truncate BEFORE epoch: µs fractions cast differently
        // across engines (floor vs round) — whole seconds are exact
        pmod(expr("CAST(unix_timestamp(date_trunc('hour', ts)) " +
          "AS BIGINT) DIV 3600"), lit(65536L)).as("tx"))
      .select(col("event_id"), col("ux"), col("tx"),
        zval(col("ux"), col("tx")).as("zv"))

  /** Hourly-volume anomaly detection by the median/MAD rule — the
    * robust z-score an ops pipeline runs over ingest volumes: an
    * hour is anomalous when |n − median| > 3 × MAD (MAD = median of
    * absolute deviations — robust where mean/stddev are dragged by
    * the very outliers being hunted). Scale shape: the corpus is
    * touched ONCE by the hour-grain partial-aggregate shuffle; hour
    * cardinality is bounded by the time span (hundreds of rows at
    * any corpus size), so the exact medians run over a BOUNDED table
    * — the place exact medians are scale-safe (row-grain medians go
    * through the rel_q25 sketch path instead). The 1-row stats table
    * broadcasts back into the hour table. No division: the flag is
    * the cross-multiplied comparison, so a zero MAD can't divide;
    * counts are integers and medians at worst x.5 — exact in binary,
    * both engines agree bitwise. */
  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyOf(Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"))
      .agg(count(lit(1)).as("n")))

  /** The median/MAD flag over an already-bounded (key, n) table —
    * exposed so the robustness spec can drive synthetic outliers
    * through the exact production expressions. */
  private[queries] def anomalyOf(hours: DataFrame): DataFrame = {
    val med = hours.agg(median(col("n")).as("med"))
    val stats = hours.crossJoin(broadcast(med))
      .agg(min(col("med")).as("med"),
        median(abs(col("n") - col("med"))).as("mad"))
    hours.crossJoin(broadcast(stats))
      .select(col("hour_ts"), col("n"), col("med"), col("mad"),
        abs(col("n") - col("med")).as("abs_dev"),
        (abs(col("n") - col("med")) > col("mad") * 3).as("is_anomaly"))
      .orderBy(col("hour_ts"))
  }

  /** Triangle count over the part co-purchase graph — the graph-
    * analytics census (clustering-coefficient numerator, community
    * density signal) by the DEGREE-ORIENTED wedge join (the
    * compact-forward algorithm, Latapy 2008; Suri & Vassilvitskii
    * WWW'11 for the MapReduce form): orient every undirected edge
    * from its (degree, id)-smaller endpoint to the larger, so each
    * triangle is counted exactly once at its smallest vertex AND the
    * wedge fanout per vertex is bounded by O(√E) — the trick that
    * keeps the wedge exchange from exploding on hub nodes, where a
    * naive undirected wedge join is quadratic in the hub degree.
    *
    * Graph: parts co-ordered within the same order (first 3 line
    * numbers — the projection's per-order fanout cap, C(3,2) = 3
    * pair rows per order before dedup). The count is orientation-
    * invariant, so the oracle replays it as the independent a<b<c
    * 3-way join, not this plan. Exchanges: pair-build shuffles on
    * the ALREADY-partitioned order key, dedup on the edge, degree
    * agg on the node, wedge join on the shared endpoint — each keyed
    * and combine-collapsed; the 1-row output carries nothing. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    // the oriented projection is the per-snapshot artifact (the
    // degree-sorted adjacency later analytics reuse); the wedge
    // join — the operator itself — stays live per run
    triangleFrom(graft.SnapshotMemo.getOrCompute(spark,
      s"tri-oriented:$dir") {
      Fixpoint.ser(orientedOf(Tables(spark, dir, "lineitem")
        .filter(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))
    })

  /** [[triangleCount]]'s core over an explicit (ok, pk) membership
    * table (spec surface). */
  private[queries] def triangleCountOf(li: DataFrame): DataFrame =
    triangleFrom(orientedOf(li))

  /** Canonical (a < b) distinct co-purchase pairs of an (ok, pk)
    * membership table — the edge rule shared by the triangle family. */
  private def coEdgesOf(li: DataFrame): DataFrame =
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()

  private def orientedOf(li: DataFrame): DataFrame =
    orientedFromEdges(coEdgesOf(li))

  /** Degree-oriented edge table (u → v with deg(u) < deg(v), ties
    * by id): the compact-forward projection. */
  private def orientedFromEdges(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("n"))
      .union(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    edges
      .join(deg.select(col("n").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
  }

  /** INCREMENTAL triangle counting (`rel_q47_triangles_incr`) —
    * the density census made refresh-proportional: the existing
    * snapshot's edge set and triangle count are stored artifacts; an
    * arriving order shard contributes TRUE delta edges (its pairs
    * anti-joined against the base — a co-purchase seen before adds
    * nothing), and every NEW triangle must contain one, so they are
    * enumerated by delta-keyed joins against the posterior adjacency
    * (|Δ|·deg² work, never a corpus recount): for each new edge
    * (a,b), the common posterior neighbors close it; canonical
    * sorted-triple dedup counts each new triangle ONCE no matter how
    * many of its edges are new. Additivity (edges are only ever
    * added) gives the checked contract: stored + |new set| must
    * equal the oracle's from-scratch posterior recount. */
  def trianglesIncremental(spark: SparkSession,
      dir: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(spark, s"tri-incr:$dir") {
      val li = Tables(spark, dir, "lineitem")
        .filter(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val baseEdges = graft.SnapshotMemo.getOrCompute(spark,
        s"tri-base-edges:$dir") {
        Fixpoint.ser(coEdgesOf(li.filter(col("ok") % 10 =!= 7)))
      }
      val baseCount = graft.SnapshotMemo.getOrCompute(spark,
        s"tri-base-count:$dir") {
        Fixpoint.ser(triangleFrom(orientedFromEdges(baseEdges))
          .select(col("n_triangles").as("n_base")))
      }
      trianglesMerge(baseCount, baseEdges,
        coEdgesOf(li.filter(col("ok") % 10 === 7)))
    }

  /** [[trianglesIncremental]]'s delta-enumeration core over explicit
    * stored artifacts + arriving canonical pairs (spec surface). */
  private[graft] def trianglesMerge(baseCount: DataFrame,
      baseEdges: DataFrame, arrivingPairs: DataFrame): DataFrame = {
      val delta = arrivingPairs
        .join(baseEdges, Seq("a", "b"), "left_anti")
      val posterior = baseEdges.unionByName(delta)
      val adj = posterior.select(col("a").as("u"), col("b").as("w"))
        .unionByName(
          posterior.select(col("b").as("u"), col("a").as("w")))
      val newTri = delta
        .join(adj.select(col("u").as("a"), col("w").as("c")), Seq("a"))
        .join(adj.select(col("u").as("b"), col("w").as("c")),
          Seq("b", "c"))
        .select(array_sort(array(col("a"), col("b"), col("c")))
          .as("t"))
        .distinct()
        .agg(count(lit(1)).as("n_new"))
      val nd = delta.agg(count(lit(1)).as("n_delta_edges"))
      baseCount.crossJoin(newTri).crossJoin(nd)
        .select(col("n_base"), col("n_new"), col("n_delta_edges"),
          (col("n_base") + col("n_new")).as("n_total"))
    }

  private def triangleFrom(oriented: DataFrame): DataFrame = {
    // wedges at the smallest vertex: out-neighbor pairs in the same
    // (degree, id) total order, closed by the (necessarily v1→v2-
    // oriented) third edge — a semi-join shape, each triangle once
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.v").as("u"), col("e2.v").as("v"))
    val tri = wedges.join(oriented.select(col("u"), col("v")),
      Seq("u", "v"), "left_semi")
    // node/edge counts re-derived from the oriented table (each
    // undirected edge appears exactly once)
    val nn = oriented.select(col("u").as("n"))
      .union(oriented.select(col("v").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val ne = oriented.agg(count(lit(1)).as("n_edges"))
    val nt = tri.agg(count(lit(1)).as("n_triangles"))
    nn.crossJoin(ne).crossJoin(nt)
  }

  /** K-core decomposition (k = [[KcoreK]]) of the part co-purchase
    * graph by ITERATIVE PEELING (Matula–Beck): repeatedly drop every
    * node whose current degree is below k, until a fixpoint. The
    * k-core is the standard density backbone (community seeds, spam
    * subgraph detection) and the canonical data-driven-iteration
    * graph op next to PageRank (value iteration) and reachability
    * (frontier walk).
    *
    * Per round: ONE node-keyed degree aggregate (combine-collapsed)
    * and two semi-joins of the edge table against the surviving-node
    * set — every exchange keyed, never all-pairs; the edge table
    * shrinks monotonically, so round cost is proportional to the
    * surviving graph. The rounds run on [[Fixpoint.iterate]];
    * convergence is an unchanged edge count, observed on the round's
    * checkpoint (peeling at k ≥ 1 removes at least one edge per
    * non-final round).
    *
    * Round bound: the DuckDB oracle unrolls [[KcoreRounds]] peel
    * rounds as chained CTEs — sound because peeling is IDEMPOTENT at
    * the fixpoint (an extra round recomputes the same sets), so the
    * oracle only needs rounds ≥ convergence; the engine asserts its
    * fixpoint arrived within that bound (loud, not silent, if a
    * regenerated snapshot ever cascades deeper). Measured: sf0.01
    * converges in 4 rounds, sf0.1 in 5. */
  val KcoreK = 12
  val KcoreRounds = 16

  def kcore(spark: SparkSession, dir: String): DataFrame = {
    // the CONVERGED core edge set is the stored artifact (it is the
    // subgraph later analytics read); the degree rollup re-derives
    val core = graft.SnapshotMemo.getOrCompute(spark,
      s"kcore-edges:$dir") {
      kcoreEdges(Tables(spark, dir, "lineitem")
        .filter(col("l_linenumber") <= 3)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
        KcoreK, KcoreRounds)
    }
    coreDegrees(core)
  }

  private[graft] def kcoreOf(li: DataFrame, k: Int,
      maxRounds: Int): DataFrame =
    coreDegrees(kcoreEdges(li, k, maxRounds))

  private def coreDegrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))

  private[queries] def kcoreEdges(li: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    val n = count(lit(1)).as("n")
    val start = Fixpoint.observed(li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct(), n)
    // interior exchanges sized to the measured edge count
    // (graft.LoopConf discipline)
    graft.LoopConf.sized(li.sparkSession, Fixpoint.long(start._2, "n")) {
      Fixpoint.iterate("kcore", start, Seq(n)) { (edges, _, round) =>
        // every round before this one removed an edge
        require(round <= maxRounds + 1,
          s"k-core peel exceeded $maxRounds rounds — raise the " +
            "oracle's unroll bound in lockstep")
        val keep = edges.select(col("a").as("n"))
          .union(edges.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= k)
          .select(col("n"))
        edges
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
      } { (prev, cur) =>
        Fixpoint.long(prev, "n") == Fixpoint.long(cur, "n")
      }.state
    }
  }

  /** Entity resolution by BLOCKED fuzzy match — near-identical
    * supplier names within edit distance 1, the classic
    * block-then-verify shape: candidate pairs come from an EQUI-join
    * on a blocking key (here the 16-char name prefix), then the
    * quadratic `levenshtein` verify runs only within blocks. Scale:
    * the blocking key bounds the join — work is
    * O(Σ block_size²), never corpus², and block granularity is the
    * recall/cost knob (a pair split across blocks is missed — the
    * documented blocking tradeoff, identical in both engines).
    * `levenshtein` is a codegen'd built-in in BOTH engines (classic
    * DP, same definition), so the verify is map-side after the
    * block join. `a_key < b_key` halves the pair space and
    * suppresses self-pairs. */
  def entityFuzzy(spark: SparkSession, dir: String): DataFrame = {
    def side(p: String): DataFrame =
      Tables(spark, dir, "supplier")
        .select(col("s_suppkey").as(s"${p}_key"),
          col("s_name").as(s"${p}_name"),
          substring(col("s_name"), 1, 16).as("blk"))
    side("a").join(side("b"), Seq("blk"))
      .filter(col("a_key") < col("b_key") &&
        levenshtein(col("a_name"), col("b_name")) <= 1)
      .select(col("a_name"), col("b_name"),
        levenshtein(col("a_name"), col("b_name")).as("dist"))
  }

  /** Sample size for the bottom-k quantile sketch (rel_q25/q26):
    * O(1/sqrt(256)) ~ 6% worst-typical rank error, 4 KB of state per
    * group. */
  private val qsketchK = 256

  /** Scale-safe median: the sketch path that `rel_q16`'s comment
    * promises. Per priority group, estimate the median from a
    * deterministic bottom-k sample ([[graft.functions.QuantileSketch]]
    * — one partial-aggregating shuffle of <= k pairs per group, no
    * per-group sort), then MEASURE the estimate two ways:
    * `abs_err_cents` against rel_q16's exact window median (the
    * yardstick re-run, same pattern as llm_ann_recall re-running
    * brute force), and `rank_err_ppm` = |rank(estimate)/n - 0.5| x
    * 10^6, computed scale-safely with one map-side conditional count
    * against the broadcast 5-row sketch table. At 100 TB only the
    * yardstick branch is dropped; the sketch + rank-error branches
    * are the production plan. */
  def medianSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketch._
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"),
        cents(col("o_totalprice")).as("cents"),
        md5(col("o_orderkey").cast("string")).as("h"))
      .withColumn("rk", expr(rank60Sql("instr")))
      .select(col("o_orderpriority"), col("cents"), col("rk"))
    val sk = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        quantileSample(col("rk"), col("cents"), qsketchK).as("tk"))
      .select(col("o_orderpriority"), col("n_orders"),
        sampleQuantile(sampleValues(col("tk")), 0.5).as("sketch_cents"))
    o.join(broadcast(sk), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n_orders")).as("n_orders"),
        max(col("sketch_cents")).as("sketch_cents"),
        sum(when(col("cents") <= col("sketch_cents"), 1L).otherwise(0L))
          .as("cnt_le"))
      .join(broadcast(medianPrice(spark, dir)), "o_orderpriority")
      .select(col("o_orderpriority"), col("n_orders"), col("median_cents"),
        col("sketch_cents"),
        abs(col("sketch_cents") - col("median_cents")).as("abs_err_cents"),
        abs(expr("(cnt_le * 1000000) div n_orders") - 500000)
          .as("rank_err_ppm"))
  }

  /** Scale-safe quartiles: the two-pass boundary plan that replaces
    * `rel_q23`'s exact ntile (which needs each segment's total order
    * on one reducer). Pass 1: per-segment q25/q50/q75 boundaries from
    * the bottom-k sketch (bounded exchange). Pass 2: broadcast the
    * O(segments)-row boundary table and assign each row's quartile
    * with three map-side comparisons, then a partial-aggregating
    * rollup. Same output shape as rel_q23 so the two are directly
    * comparable; bucket populations differ from exact ntile only by
    * the sketch's rank error (and never in ways the oracle can't
    * replay — boundaries are deterministic). */
  def quartilesSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketch._
    val c = Tables(spark, dir, "customer")
      .select(col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_cents"),
        md5(col("c_custkey").cast("string")).as("h"))
      .withColumn("rk", expr(rank60Sql("instr")))
      .select(col("c_mktsegment"), col("bal_cents"), col("rk"))
    val sk = c.groupBy(col("c_mktsegment"))
      .agg(quantileSample(col("rk"), col("bal_cents"), qsketchK).as("tk"))
      .withColumn("vals", sampleValues(col("tk")))
      .select(col("c_mktsegment"),
        sampleQuantile(col("vals"), 0.25).as("b1"),
        sampleQuantile(col("vals"), 0.50).as("b2"),
        sampleQuantile(col("vals"), 0.75).as("b3"))
    c.join(broadcast(sk), "c_mktsegment")
      .withColumn("quartile",
        (lit(1)
          + when(col("bal_cents") > col("b1"), 1).otherwise(0)
          + when(col("bal_cents") > col("b2"), 1).otherwise(0)
          + when(col("bal_cents") > col("b3"), 1).otherwise(0)).cast("int"))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n_cust"),
        min(col("bal_cents")).as("min_cents"),
        max(col("bal_cents")).as("max_cents"))
  }

  /** Interval/range join WITHOUT an equi-key, made shuffle-joinable
    * by bucketing — the join family the engine was still missing
    * (equi: everywhere; as-of: native operator rel_q22). Incident
    * windows (hours with >= 8 error events, widened to
    * [hour-30min, hour+90min)) are joined to EVERY event falling
    * inside them. Naively that is a pure inequality join, which
    * Spark can only plan as a broadcast-nested-loop / cartesian —
    * O(|events| x |windows|) compares and a hard broadcast ceiling
    * on the window side. Instead each window EXPLODES into the
    * <= 3 hour-buckets it spans and events carry their single
    * bucket, turning the range predicate into an equi-join on the
    * bucket key plus a residual map-side filter: shuffle-partitioned
    * on both sides, no nested loop anywhere (plan-asserted in
    * RangeJoinSpec with broadcast disabled). An event's one bucket
    * meets an exploded window at most once, so no post-join dedup is
    * needed. Scale: work is O(events + windows x span) shuffled by
    * bucket; bucket granularity is the skew/selectivity knob. All
    * time math is integer epoch seconds so both engines agree
    * exactly. */
  def rangeJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(unix_timestamp(col("ts")).as("sec"), col("event_type"))
    rangeJoinBucketedOf(e,
      confInt(spark, rangeJoinSaltsFlag).map(_.toInt).getOrElse(1))
  }

  /** Parse an integer conf value with an error that names the flag —
    * a bare .toInt would surface an uncontextualized
    * NumberFormatException from deep inside the query. */
  private def confInt(spark: SparkSession, key: String): Option[Long] =
    spark.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")
      }
    }

  /** Skew knob for [[rangeJoinBucketed]]: a pathological hour (every
    * event in one bucket — a thundering-herd incident) sends that
    * bucket's whole population to one reducer of the bucket join. Set
    * to the expected replication factor (e.g. 8) when hot hours are
    * known; the window side is windows×span rows and replicates
    * per-salt, so the cost is salts× THAT tiny side
    * ([[SaltedJoin.saltedInner]]'s contract). Results are exact and
    * identical for any value — only load balance changes
    * (SkewKnobSpec). */
  val rangeJoinSaltsFlag = "spark.graft.rangejoin.salts"

  private[queries] def rangeJoinBucketedOf(
      e: DataFrame, salts: Int): DataFrame = {
    val wins = rangeJoinWindows(e)
    val winBuckets = wins.select(col("hb"), col("win_lo"), col("win_hi"),
      explode(expr("sequence(win_lo div 3600, (win_hi - 1) div 3600)"))
        .as("wb"))
    val ev = e.select(expr("sec div 3600").as("wb"), col("sec"),
      col("event_type"))
    val joined =
      if (salts <= 1) ev.join(winBuckets, Seq("wb"))
      else SaltedJoin.saltedInner(ev,
        winBuckets.withColumnRenamed("wb", "bwb"),
        ev("wb"), col("bwb"), salts).drop("bwb")
    joined
      .filter(col("sec") >= col("win_lo") && col("sec") < col("win_hi"))
      .groupBy(col("hb"), col("win_lo"), col("win_hi"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
      .select((col("hb") * 3600).as("hour_ts"), col("win_lo"),
        col("win_hi"), col("n_events"), col("n_err"))
  }

  /** Incident windows: hours whose error count reaches
    * ceil(1.5 × global mean errors/hour) — a relative threshold so
    * the query is non-degenerate at every scale factor — widened to
    * [hour − 30 min, hour + 90 min). Exact integer ceiling math; the
    * 1-row global stats aggregate joins in as a broadcast scalar. */
  private[queries] def rangeJoinWindows(e: DataFrame): DataFrame = {
    val stats = e.agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("terr"),
        countDistinct(expr("sec div 3600")).as("nh"))
      .select(expr("(3 * terr + 2 * nh - 1) div (2 * nh)").as("thr"))
    e.filter(col("event_type") === "error")
      .groupBy(expr("sec div 3600").as("hb"))
      .agg(count(lit(1)).as("ne"))
      .crossJoin(broadcast(stats))
      .filter(col("ne") >= col("thr"))
      .select(col("hb"), (col("hb") * 3600 - 1800).as("win_lo"),
        (col("hb") * 3600 + 5400).as("win_hi"))
  }

  /** Weekly retention cohorts: users grouped by first-activity week;
    * for each (cohort, weeks-since-cohort) cell, how many of the
    * cohort's users were active. Two user-keyed aggregations (first
    * week, then distinct user-week activity) and one join of the
    * activity table against the user-sized cohort table — the
    * standard cohort shape; all week arithmetic is integer epoch
    * division so both engines agree exactly. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    // integer epoch division (div, not /): Column `/` is double
    // division, and a truncated double is one rounding edge away
    // from the oracle's integer result
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $weekUs").as("week"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    // (user, week) is unique after the distinct and each user has one
    // cohort row, so count(*) == countDistinct(user) without the
    // distinct-aggregate's second exchange
    ev.distinct()
      .join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Inter-event gaps via lag — the offset-window family (lag/lead)
    * the suite didn't yet exercise. Per user, events are ordered by
    * (ts_us, event_id) — the unique id breaks timestamp ties so the
    * previous-row reference is deterministic in both engines — and
    * the gap to the previous event is aggregated per current-event
    * type. One exchange on user_id; the window streams each user's
    * sorted run with O(1) state (lag 1), then a 4-key map-side-
    * combined rollup. All time math in integer µs. */
  def userGaps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    e.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("sum_gap_us"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
  }

  /** Per-segment price quartiles via ntile — the ranked-distribution
    * window family (ntile over a deterministic total order; ties
    * broken by the unique custkey so both engines see the same
    * order). One shuffle on the segment key; the quartile rollup
    * reuses that partitioning. Exact ntile needs each segment's total
    * order on one reducer — `rel_q26` is the scale-safe two-pass
    * sketch-boundary form of this query. */
  def priceQuartiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"),
        cents(col("c_acctbal")).as("bal_cents"))
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("bal_cents"), col("c_custkey"))))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n_cust"),
        min(col("bal_cents")).as("min_cents"),
        max(col("bal_cents")).as("max_cents"))

  /** The SAME click-attribution as rel_q12, through the engine's
    * native [[graft.plans.AsofJoin]] operator instead of the
    * union + last(ignoreNulls)-window composition. The native plan
    * exchanges each side once on user_id and streams a per-partition
    * merge with O(1) state — no union of the two tables, no window
    * buffer (the composed form shuffles the UNION and carries its
    * full width through the window). DuckDB's native ASOF LEFT JOIN
    * independently oracles both formulations. */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    // collapse same-instant clicks to the max click_id BEFORE the
    // join: the as-of operator breaks equal-max-ts ties by partition
    // sort order (nondeterministic), and DuckDB's ASOF picks its own
    // arbitrary tie — pre-aggregating makes the right side unique
    // per (user, ts) so both engines are exactly deterministic
    // regardless of the data
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("click_us"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsofJoinOps.asof(p, c, "user_id", "ts_us", "click_us")
      .toDF("event_id", "user_id", "ts_us", "u2", "click_us", "click_id")
      .drop("u2")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("click_us"))
  }

  /** Conversion funnel view → click → purchase: each stage keeps the
    * user's earliest qualifying event at-or-after the previous
    * stage's timestamp. Three type-pruned passes — the event_type
    * equality pushes into each parquet scan, so a pass reads ONE
    * type's rows — each one user-keyed shuffle, with stage tables
    * shrinking monotonically (purchase pass joins only
    * click-converted users). Comparisons are timestamp-only (ties
    * admit same-instant progression): no dependence on row order
    * within equal timestamps, which would be engine-dependent. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    def stage(tpe: String) = ev.filter(col("event_type") === tpe)
    val v = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t1"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts_us") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts_us") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
  }

  /** FULL OUTER join — the one join family the suite didn't yet
    * exercise: reconcile two independently-produced daily rollups
    * (orders placed vs purchase events) where EITHER side may have
    * days the other lacks — the classic two-pipeline reconciliation
    * report, where an inner join would silently drop exactly the
    * discrepant days the report exists to find. Both inputs
    * pre-aggregate to day grain before the join, so the full-outer
    * SMJ carries one row per (day, side) — day-bounded, not
    * row-bounded; null-filled sides surface as zero counts. Day
    * arithmetic is integer epoch division in both engines. */
  def fullOuterActivity(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 24L * 3600 * 1000000L
    val o = Tables(spark, dir, "orders")
      // o_orderdate reads as TIMESTAMP_NTZ; the cast to (ltz)
      // TIMESTAMP interprets it in the session's UTC — exactly how
      // the oracle's epoch_us reads the same naive value
      .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $dayUs")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_orders"))
    val e = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_purchases"))
    o.join(e, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
  }

  /** Correlated scalar subqueries — the query form (not yet covered)
    * that Catalyst must DECORRELATE to run at scale: "parts priced
    * above their brand's average", with the average comparison done
    * in exact integer arithmetic (price·n > sum, cross-multiplied —
    * no division, no floats, so both engines agree bit-for-bit).
    * SQL-first on both engines: Spark DECORRELATES each scalar
    * subquery into a brand-level aggregate broadcast-joined back on
    * the correlation key (plan audited at sf0.1: two 25-key
    * aggregates + two BroadcastHashJoins feeding the probe scan —
    * MergeScalarSubqueries does not merge them because the count
    * subquery survives as LeftOuter-with-default; either way nothing
    * executes per-row and the fact scans stay map-side). */
  def aboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "part").createOrReplaceTempView("part_corr")
    spark.sql(s"""
      |SELECT p.p_brand, COUNT(*) AS n_above
      |FROM part_corr p
      |WHERE ${sqlCents("p.p_retailprice")} *
      |    (SELECT COUNT(*) FROM part_corr p2
      |     WHERE p2.p_brand = p.p_brand)
      |  > (SELECT SUM(${sqlCents("p3.p_retailprice")}) FROM part_corr p3
      |     WHERE p3.p_brand = p.p_brand)
      |GROUP BY p.p_brand
      |""".stripMargin)
  }

  /** Disjoint-dimension subtotals via GROUPING SETS — the shape
    * ROLLUP/CUBE cannot express (two independent one-column
    * groupings + grand total, no cross products). Spark plans this
    * as a single Expand (3 replicas of each row tagged with its
    * grouping id) + one partial-aggregated shuffle — the rows
    * expand 3×, the exchange carries only the partial aggregates.
    * `grouping()` disambiguates real NULL keys from subtotal rows,
    * which the coalesce-label trick alone cannot. SQL-first on both
    * engines (the DataFrame API has only rollup/cube). */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_gsets")
    spark.sql(s"""
      |SELECT CASE WHEN grouping(o_orderstatus) = 0 THEN 'status'
      |            WHEN grouping(o_orderpriority) = 0 THEN 'priority'
      |            ELSE 'all' END AS dim,
      |  coalesce(o_orderstatus, o_orderpriority, 'ALL') AS key,
      |  COUNT(*) AS n_orders,
      |  ${sqlMoneySum("o_totalprice")} AS sum_price
      |FROM orders_gsets
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |""".stripMargin)
  }

  /** TPC-H Q5-flavored supplier revenue by region: the fact table
    * streams through THREE chained broadcast hash joins (supplier →
    * nation → region are all dimension-scale), so the only fact
    * exchange is the final 5-group aggregate — the canonical
    * star-schema plan at any scale. */
  def supplierRegion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    val nat = Tables(spark, dir, "nation")
    val reg = Tables(spark, dir, "region")
    li.join(broadcast(sup.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("s_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** TPC-H Q6-flavored forecast-revenue scan: every predicate
    * (timestamp range, discount band, quantity cap) is a plain
    * column-vs-literal comparison, so ALL of them push into the
    * parquet scan (`PushedFilters` in the plan) and only surviving
    * rows reach the single global aggregate — the canonical
    * scan-bound query: at 100 TB its cost is I/O after pushdown +
    * row-group pruning, with zero shuffle beyond the 1-row reduce. */
  def dateRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.08 &&
        col("l_quantity") < 24)
      .agg(
        moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Hot-part quantity ranking through [[SaltedAgg]]: the per-partkey
    * aggregation runs two-phase salted (8 salts), so a pathologically
    * hot part — the aggregation-skew case AQE cannot split, since a
    * single group lands on a single reducer — spreads over 8 reducers
    * in the first phase; the second phase re-aggregates 8 rows per
    * key. The result is EXACT (sum/count re-aggregate losslessly) and
    * identical to the oracle's plain GROUP BY; top-10 goes through
    * TakeOrderedAndProject with the (qty, partkey) tie-break. */
  def saltedParts(spark: SparkSession, dir: String): DataFrame =
    SaltedAgg.saltedSumCount(
      Tables(spark, dir, "lineitem"),
      col("l_partkey"), cents(col("l_quantity")), salts = 8)
      .select(col("k").as("l_partkey"), col("sum_v").as("qty_cents"),
        col("n").as("n_items"))
      .orderBy(col("qty_cents").desc, col("l_partkey"))
      .limit(10)

  /** TPC-H Q1-flavored pricing summary: partial agg map-side, one
    * shuffle on (returnflag, linestatus) — 6 groups. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Top-k by price: TakeOrderedAndProject, never a global sort. */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Revenue per nation. `orders` and `customer` scale with the data
    * volume, so they are shuffle-joined (AQE picks hash vs SMJ at
    * runtime; at real scale, bucket lineitem+orders by orderkey to
    * make the first join co-located). Only `nation` — fixed 25 rows —
    * is a true broadcast dim. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
    val nat = Tables(spark, dir, "nation")
    li.join(ord.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Per-customer top-3 orders via ROW_NUMBER window (deterministic
    * tie-break on o_orderkey). One shuffle on o_custkey. */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Tumbling-hour event rollup — the batch twin of the Structured
    * Streaming window in graft.streaming (same groups, same sums).
    * Hour emitted as epoch seconds: cross-engine-stable vs raw
    * timestamps (events.ts is ns; Spark truncates to µs on read). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("hour_ts"), col("event_type"))

  /** Anti-join: customers with no finished ('F') order. The build
    * side scales with data volume → shuffled left-anti (AQE decides
    * the physical join); restricting to one status keeps the result
    * non-empty so the anti-join is actually exercised. */
  def customersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Group stats incl. distinct-agg (two-phase distinct under the
    * hood — fine at 5 groups; at 100 TB swap for approx_count_distinct
    * when exactness isn't required). */
  def mktsegmentStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_cust"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("c_mktsegment"))

  /** TPC-H Q4-flavored: orders with at least one late-shipping line —
    * left-semi join (EXISTS), aggregated to 5 priority groups. */
  def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Hierarchical subtotals via ROLLUP (segment → nation → grand
    * total). Spark expands rollup into a single multi-group
    * aggregation (one shuffle, partial agg map-side — NOT one pass
    * per level); group keys are coalesced to 'ALL' strings so the
    * subtotal rows are engine-independently comparable. */
  def segmentNationRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("sum_bal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("c_nationkey").cast("string"), lit("ALL")).as("nation"),
        col("n_cust"), col("sum_bal"))

  /** Semi-structured extraction: events.props is a JSON string;
    * extract a typed field and aggregate. get_json_object is a
    * codegen'd builtin — at scale, parse once into a struct column
    * (from_json) if multiple fields are read. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Session gap: a new session starts after >12h of user inactivity
    * (the corpus averages one event per ~10.8h per user, so 12h yields
    * a realistic mix of single- and multi-event sessions). All gap
    * arithmetic is integer epoch-µs — exact in both engines. */
  val sessionGapUs: Long = 12L * 3600 * 1000000

  /** Gap-based sessionization — the batch shape of a session-window
    * aggregation. ONE shuffle on user_id: the lag and the running sum
    * share (partition, order) so they fuse into a single Window
    * operator, and the downstream groupBy(user_id, session_seq) is
    * satisfied by the existing hash(user_id) partitioning (Spark
    * accepts subset-key distributions — no second exchange). At
    * 100 TB: sessions never span users, so this scales linearly with
    * no skew beyond the per-user event count. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    confInt(spark, sessionsChunkFlag) match {
      case Some(chunkUs) =>
        sessionsSharded(Tables(spark, dir, "events"), chunkUs)
      case None => sessionsOf(Tables(spark, dir, "events"))
    }

  /** Skew knob for [[sessions]]: single-pass sessionization needs ALL
    * of a user's events on one reducer (the per-user window) — a
    * pathological user (a bot emitting millions of events) stalls the
    * stage. Set this to a time-chunk width in µs (e.g. one week) to
    * switch to [[sessionsSharded]], whose per-reducer input is
    * bounded by the hot user's events per CHUNK in phase 1 and their
    * local-session count (≤ chunks + true sessions) in phase 2.
    * Results are exact and identical for ANY chunk width
    * (SkewKnobSpec proves equality and the bound). */
  val sessionsChunkFlag = "spark.graft.sessions.chunkUs"

  /** Two-phase gap sessionization: (1) sessionize WITHIN
    * (user, time-chunk) partitions — the window key now includes the
    * chunk, so no reducer sees more than one chunk of the hot user;
    * (2) sessionize the per-chunk LOCAL SESSIONS (orders of magnitude
    * fewer rows than events) per user with the same gap rule, which
    * re-merges sessions the chunk boundaries split. Correct for any
    * chunkUs > 0 because chunk edges can only SPLIT a session, and
    * phase 2's merge test (start − prev end > gap) is exactly the
    * single-pass rule: local sessions of one user are time-ordered
    * and disjoint, so re-merging reconstructs the identical
    * partition. Aggregates re-aggregate losslessly (sum/min/max and
    * integer-cent sums). */
  def sessionsSharded(events: DataFrame, chunkUs: Long): DataFrame = {
    require(chunkUs > 0, "chunk width must be positive")
    val byChunk = Window.partitionBy(col("user_id"), col("chunk"))
      .orderBy(col("ts_us"))
    val runByChunk =
      byChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("chunk", expr(s"ts_us div $chunkUs"))
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(byChunk).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(byChunk) > sessionGapUs,
          1L).otherwise(0L))
      .withColumn("lseq", sum(col("new_s")).over(runByChunk))
      .groupBy(col("user_id"), col("chunk"), col("lseq"))
      .agg(count(lit(1)).as("n_ev"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        moneySum(col("value")).as("sum_v"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    val runByUser =
      byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local
      .withColumn("new_s",
        when(lag(col("end_us"), 1).over(byUser).isNull ||
          col("start_us") - lag(col("end_us"), 1).over(byUser)
            > sessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_s")).over(runByUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sum(col("n_ev")).as("n_events"),
        min(col("start_us")).as("start_us"),
        max(col("end_us")).as("end_us"),
        (max(col("end_us")) - min(col("start_us"))).as("duration_us"),
        moneySum(col("sum_v")).as("sum_value"))
  }

  /** Sessionization over any events DataFrame with columns
    * (user_id long, ts timestamp, value double). */
  /** NATIVE session windows (`rel_q48_session_native`) — the same
    * gap sessionization as [[sessions]] expressed through Catalyst's
    * own `SessionWindow` operator (`session_window(ts, gap)`): one
    * exchange on the user key, per-key window MERGE inside the
    * aggregate — the declarative spelling whose streaming form is
    * what Structured Streaming state-stores natively. Boundary
    * semantics differ from the lag rule BY SPEC and the oracle pins
    * them: a session's END is last-event + gap (not last event), and
    * an event exactly `gap` after its predecessor starts a NEW
    * session (the lag rule's strict `>` keeps it — the off-by-one
    * every migration between the two spellings must know about). */
  def sessionNative(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"),
          s"${sessionGapUs / 1000000} seconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  def sessionsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val runningByUser =
      byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(byUser).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(byUser) > sessionGapUs,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_s")).over(runningByUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        moneySum(col("value")).as("sum_value"))
  }

  /** As-of join: attribute each purchase to the user's most recent
    * click at-or-before it (NULL when none). Implemented the
    * scale-safe way — union both sides, ONE shuffle on user_id, and a
    * running `last(click, ignoreNulls)` window — instead of a range
    * join, whose candidate set explodes quadratically in events per
    * user. (user_id, ts) pairs are unique in the corpus, so ordering
    * by ts_us is deterministic. Oracle: DuckDB's native ASOF LEFT
    * JOIN — an independent implementation of the same semantics. */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame =
    asofOf(Tables(spark, dir, "events"))

  /** As-of attribution over any events DataFrame with columns
    * (event_id long, user_id long, ts timestamp, event_type string). */
  def asofOf(events: DataFrame): DataFrame = {
    val runningByUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "click").as("is_click"))
      .withColumn("click_id",
        last(when(col("is_click"), col("event_id")), ignoreNulls = true)
          .over(runningByUser))
      .withColumn("click_us",
        last(when(col("is_click"), col("ts_us")), ignoreNulls = true)
          .over(runningByUser))
      .filter(!col("is_click"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_id"), col("click_us"))
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Daily × event-type count matrix via `pivot` — Spark plans the
    * fixed-value pivot as ONE aggregation with conditional counts (no
    * per-column passes); absent combinations are coalesced to 0 so
    * the shape matches the oracle's CASE-sum formulation. */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .select(col("day") +: eventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)

  /** INTERSECT set op: customers with both a finished and an open
    * order — plans as a left-semi join after aggregation-free
    * distincts (one shuffle per side). */
  def repeatCustomers(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    ord.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(
        ord.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
  }

  /** Sliding window frame: each (type, hour)'s count plus the rolling
    * sum over the previous 3 hours of the same type — one shuffle on
    * event_type, integer arithmetic only. */
  def movingWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      .rowsBetween(-3, Window.currentRow)
    hourly.withColumn("rolling_n", sum(col("n")).over(w))
  }

  /** Exponentially-decayed rolling activity (`rel_q46_decay`) — the
    * EWMA-class trend signal feature stores keep per entity, in
    * EXACT integer arithmetic: per (user, hour) activity cents x_t,
    * score(t) = Σ_{d=0..7} x_{t−d} · 2^(7−d) — half-life one hour,
    * truncated at 8 terms (the tail weight is < 1/256 of the head),
    * ×256-scaled so no division ever happens. Weights ride HOUR
    * DISTANCE, not row offsets, so silent hours decay the score
    * instead of being skipped. Scale shape: each contributing hour
    * is EXPANDED map-side into its ≤ 8 covering target hours
    * (posexplode over the hour sequence — the [[rollingUniques]]
    * pattern), then EQUI-joined on `(user_id, hour_ts)`; a
    * `rowsBetween` frame would weight the k-th PRESENT hour (the
    * classic gap bug), and a user-only join with a residual band
    * filter would enumerate hours² pairs per user before filtering —
    * quadratic in a user's history length. This plan is linear:
    * 8× expansion, fully key-partitioned join, no residual range
    * predicate. */
  def decayScore(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"))
      .agg(sum(cents(col("value"))).as("x_cents"))
    // each source hour covers target hours b_ts .. b_ts+7h; the
    // posexplode position d IS the hour distance, so the 2^(7-d)
    // weight is computed at expand time — nothing left to filter
    val contrib = hourly
      .select(col("user_id"), col("x_cents").as("b_x"),
        posexplode(expr(
          "sequence(hour_ts, hour_ts + 7 * 3600, 3600)"))
          .as(Seq("d", "hour_ts")))
    hourly.join(contrib, Seq("user_id", "hour_ts"))
      .groupBy(col("user_id"), col("hour_ts"),
        col("x_cents"))
      .agg(sum(expr("b_x * shiftleft(1L, 7 - d)"))
        .as("decay_x256"))
      .select(col("user_id"), col("hour_ts"), col("x_cents"),
        col("decay_x256"))
  }

  /** Inclusion-dependency profiling (`rel_q50_inclusion`) — the
    * data-DISCOVERY pass that finds foreign keys nobody documented
    * (the second profiling surface after [[columnProfile]]'s
    * per-column stats): for each candidate (child column, parent
    * column) pair, the fraction of the child's DISTINCT values
    * contained in the parent — 1000‰ means a perfect FK candidate,
    * and the suite deliberately includes a near-miss (order keys
    * against line-item order keys is only total when every order
    * has lines) and a type-compatible non-key (sizes vs nation
    * keys) so the coefficient actually ranks. Per pair: two
    * distinct-projections and one left-anti count — each a
    * key-partitioned exchange on ALREADY-DISTINCT columns, never a
    * row-level join of the fact tables. */
  def inclusionProfile(spark: SparkSession, dir: String): DataFrame = {
    def d(tbl: String, c: String): DataFrame =
      Tables(spark, dir, tbl).select(col(c).cast("long").as("v"))
        .distinct()
    val cands: Seq[(String, DataFrame, String, DataFrame)] = Seq(
      ("orders.o_custkey", d("orders", "o_custkey"),
        "customer.c_custkey", d("customer", "c_custkey")),
      ("lineitem.l_orderkey", d("lineitem", "l_orderkey"),
        "orders.o_orderkey", d("orders", "o_orderkey")),
      ("orders.o_orderkey", d("orders", "o_orderkey"),
        "lineitem.l_orderkey", d("lineitem", "l_orderkey")),
      ("lineitem.l_partkey", d("lineitem", "l_partkey"),
        "part.p_partkey", d("part", "p_partkey")),
      ("customer.c_nationkey", d("customer", "c_nationkey"),
        "nation.n_nationkey", d("nation", "n_nationkey")),
      ("part.p_size", d("part", "p_size"),
        "nation.n_nationkey", d("nation", "n_nationkey")))
    cands.map { case (cn, child, pn, parent) =>
      // one lazy plan per pair (no driver-side counts): distinct
      // child size × anti-join miss count, both 1-row aggregates
      child.agg(count(lit(1)).as("n_distinct"))
        .crossJoin(child.join(parent, Seq("v"), "left_anti")
          .agg(count(lit(1)).as("n_miss")))
        .select(lit(cn).as("child_col"), lit(pn).as("parent_col"),
          col("n_distinct"),
          (col("n_distinct") - col("n_miss")).as("n_contained"),
          expr("CASE WHEN n_distinct = 0 THEN 0L ELSE " +
            "(n_distinct - n_miss) * 1000 div n_distinct END")
            .as("contained_x1000"))
    }.reduce(_.unionByName(_)).orderBy(col("child_col"),
      col("parent_col"))
  }

  /** Rolling distinct users (`rel_q49_rolling_uniques`) — the
    * DAU-style sliding-uniques query, computed BOTH ways in one row
    * so the trade is measured, not asserted: the exact path expands
    * each (hour, user) membership into its 3 covering TRAILING
    * windows (win_ts = window END hour, spanning [win_ts−2h, win_ts]) and pays
    * a distinct-aggregate per window (the cost that explodes at
    * 100 TB); the production path merges PER-HOUR HLL REGISTER
    * TABLES across the window instead — the expand happens on
    * sketch rows (hours × 64 registers), five orders below the
    * event rows, and register-max is the merge (the mergeability
    * that makes HLL the warehouse rolling-uniques operator). Same
    * integer-exact raw estimator as `llm_hll_distinct`
    * (α = 709/1000, b = 6), user-id keyed. */
  def rollingUniques(spark: SparkSession, dir: String): DataFrame = {
    val wBits = 26
    val w = 1L << wBits
    val m = 64L
    val hu = Tables(spark, dir, "events")
      .select(unix_timestamp(date_trunc("hour", col("ts")))
        .as("hour_ts"), col("user_id"))
      .distinct()
    // exact: event-scale 3-way expand, then a distinct agg per window
    val exact = hu
      .select(explode(expr(
        "sequence(hour_ts, hour_ts + 7200, 3600)")).as("win_ts"),
        col("user_id"))
      .groupBy(col("win_ts"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    // sketch: per-hour registers once, window-merged at sketch scale
    val regs = hu
      .withColumn("h", md5(col("user_id").cast("string")))
      .withColumn("hv", expr((1 to 8).map { j =>
        val p = math.pow(16, 8 - j).toLong
        s"CAST(instr('0123456789abcdef', substring(h, $j, 1)) - 1 " +
          s"AS BIGINT) * $p"
      }.mkString(" + ")))
      .withColumn("j", expr(s"CAST(hv div $w AS INT)"))
      .withColumn("wv", expr(s"hv % $w"))
      .withColumn("rho", expr(s"CASE WHEN wv = 0 THEN ${wBits + 1} " +
        s"ELSE ${wBits + 1} - length(bin(wv)) END"))
      .groupBy(col("hour_ts"), col("j"))
      .agg(max(col("rho")).as("mj"))
    val merged = regs
      .select(explode(expr(
        "sequence(hour_ts, hour_ts + 7200, 3600)")).as("win_ts"),
        col("j"), col("mj"))
      .groupBy(col("win_ts"), col("j"))
      .agg(max(col("mj")).as("mj"))
    val est = merged
      .groupBy(col("win_ts"))
      .agg((sum(expr(s"CAST(1 AS BIGINT) << CAST($wBits - mj AS INT)"))
        + (lit(m) - count(lit(1))) * w).as("nsum"))
      .select(col("win_ts"),
        expr(s"${709L * m * m * w}L div (1000L * nsum)").as("est_hll"))
    exact.join(est, Seq("win_ts"))
      .select(col("win_ts"), col("n_exact"), col("est_hll"))
  }

  /** Exact per-group lower median by deterministic rank selection
    * (row_number to the (n+1)/2-th row) — engine-independent, unlike
    * percentile functions whose interpolation rules differ across
    * engines. Integer cents, orderkey tie-break. One shuffle on the
    * group key; both window specs share it. At 100 TB exact medians
    * give way to the deterministic bottom-k sketch (`rel_q25` /
    * [[graft.functions.QuantileSketch]]) — this window is the
    * exactness baseline that sketch is validated against. */
  def medianPrice(spark: SparkSession, dir: String): DataFrame = {
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    val ordered = byPrio.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("cnt", count(lit(1)).over(byPrio))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("o_orderpriority"), col("cents").as("median_cents"))
  }

  def oracleSql: Map[String, String] = Map(
    "rel_q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlMoneySum("l_quantity")} AS sum_qty,
         |  ${sqlMoneySum("l_extendedprice")} AS sum_base_price,
         |  ${sqlMoneySum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         |  ${sqlMoneySum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rel_q02_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "rel_q03_revenue_by_nation" ->
      s"""SELECT n_name,
         |  ${sqlMoneySum("l_extendedprice*(1-l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "rel_q04_window_top_orders" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "rel_q05_events_hourly" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         |  event_type, COUNT(*) AS n,
         |  ${sqlMoneySum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_q06_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "rel_q07_mktsegment_stats" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  COUNT(DISTINCT c_nationkey) AS n_nations,
         |  ${sqlMoneySum("c_acctbal")} AS sum_bal
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "rel_q08_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "rel_q09_rollup" ->
      s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
         |  coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
         |  COUNT(*) AS n_cust,
         |  ${sqlMoneySum("c_acctbal")} AS sum_bal
         |FROM customer
         |GROUP BY ROLLUP(c_mktsegment, c_nationkey)""".stripMargin,

    "rel_q10_events_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "rel_q11_sessions" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value
         |    FROM events),
         |g AS (SELECT user_id, ts_us, value,
         |    CASE WHEN lag(ts_us) OVER w IS NULL
         |      OR ts_us - lag(ts_us) OVER w > $sessionGapUs
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         |s AS (SELECT user_id, ts_us, value,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM g)
         |SELECT user_id, session_seq, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  MAX(ts_us) - MIN(ts_us) AS duration_us,
         |  ${sqlMoneySum("value")} AS sum_value
         |FROM s GROUP BY user_id, session_seq""".stripMargin,

    // each pair recomputed as independent scalar SQL (distinct
    // cardinality + EXISTS containment) — the anti-join arithmetic
    // replayed structurally differently
    "rel_q50_inclusion" ->
      """WITH raw AS (
        |SELECT 'orders.o_custkey' AS child_col, 'customer.c_custkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS v FROM orders) c
        |    WHERE EXISTS (SELECT 1 FROM customer p
        |      WHERE CAST(p.c_custkey AS BIGINT) = c.v)) AS n_contained
        |UNION ALL
        |SELECT 'lineitem.l_orderkey' AS child_col, 'orders.o_orderkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS v FROM lineitem) c
        |    WHERE EXISTS (SELECT 1 FROM orders p
        |      WHERE CAST(p.o_orderkey AS BIGINT) = c.v)) AS n_contained
        |UNION ALL
        |SELECT 'orders.o_orderkey' AS child_col, 'lineitem.l_orderkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS v FROM orders) c
        |    WHERE EXISTS (SELECT 1 FROM lineitem p
        |      WHERE CAST(p.l_orderkey AS BIGINT) = c.v)) AS n_contained
        |UNION ALL
        |SELECT 'lineitem.l_partkey' AS child_col, 'part.p_partkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS v FROM lineitem) c
        |    WHERE EXISTS (SELECT 1 FROM part p
        |      WHERE CAST(p.p_partkey AS BIGINT) = c.v)) AS n_contained
        |UNION ALL
        |SELECT 'customer.c_nationkey' AS child_col, 'nation.n_nationkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS v FROM customer) c
        |    WHERE EXISTS (SELECT 1 FROM nation p
        |      WHERE CAST(p.n_nationkey AS BIGINT) = c.v)) AS n_contained
        |UNION ALL
        |SELECT 'part.p_size' AS child_col, 'nation.n_nationkey' AS parent_col,
        |  (SELECT CAST(COUNT(DISTINCT p_size) AS BIGINT) FROM part)
        |    AS n_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT CAST(p_size AS BIGINT) AS v FROM part) c
        |    WHERE EXISTS (SELECT 1 FROM nation p
        |      WHERE CAST(p.n_nationkey AS BIGINT) = c.v)) AS n_contained)
        |SELECT child_col, parent_col, n_distinct, n_contained,
        |  CASE WHEN n_distinct = 0 THEN 0
        |    ELSE n_contained * 1000 // n_distinct END
        |    AS contained_x1000
        |FROM raw""".stripMargin,

    // both paths replayed: the exact 3-window expand + distinct, and
    // the register table window-merged by max — same md5 polynomial,
    // same integer-exact harmonic fold as the llm_hll oracle
    "rel_q49_rolling_uniques" ->
      """WITH hu AS (SELECT DISTINCT
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    user_id
        |  FROM events),
        |ex AS (SELECT win_ts,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM (SELECT unnest(generate_series(hour_ts,
        |      hour_ts + 7200, 3600)) AS win_ts, user_id FROM hu)
        |  GROUP BY win_ts),
        |hv AS (SELECT hour_ts, user_id,
        |    md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM hu),
        |rv AS (SELECT hour_ts,
        |    CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(strpos('0123456789abcdef', substring(h, 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(strpos('0123456789abcdef', substring(h, 4, 1)) - 1 AS BIGINT) * 65536 + CAST(strpos('0123456789abcdef', substring(h, 5, 1)) - 1 AS BIGINT) * 4096 + CAST(strpos('0123456789abcdef', substring(h, 6, 1)) - 1 AS BIGINT) * 256 + CAST(strpos('0123456789abcdef', substring(h, 7, 1)) - 1 AS BIGINT) * 16 + CAST(strpos('0123456789abcdef', substring(h, 8, 1)) - 1 AS BIGINT) * 1 AS v
        |  FROM hv),
        |regs AS (SELECT hour_ts, CAST(v // 67108864 AS INT) AS j,
        |    MAX(CASE WHEN v % 67108864 = 0 THEN 27
        |      ELSE 27 - length(bin(v % 67108864)) END) AS mj
        |  FROM rv GROUP BY 1, 2),
        |mg AS (SELECT win_ts, j, MAX(mj) AS mj
        |  FROM (SELECT unnest(generate_series(hour_ts,
        |      hour_ts + 7200, 3600)) AS win_ts, j, mj FROM regs)
        |  GROUP BY 1, 2),
        |es AS (SELECT win_ts,
        |    SUM(CAST(1 AS BIGINT) << CAST(26 - mj AS INT))
        |      + (64 - COUNT(*)) * 67108864 AS nsum
        |  FROM mg GROUP BY 1)
        |SELECT ex.win_ts, ex.n_exact,
        |  CAST(194888436023296 // (1000 * es.nsum) AS BIGINT)
        |    AS est_hll
        |FROM ex JOIN es ON ex.win_ts = es.win_ts""".stripMargin,

    // the SessionWindow semantics replayed with the lag rule's
    // >= variant (exact-gap events split) and end = last + gap
    "rel_q48_session_native" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value
         |    FROM events),
         |g AS (SELECT user_id, ts_us, value,
         |    CASE WHEN lag(ts_us) OVER w IS NULL
         |      OR ts_us - lag(ts_us) OVER w >= $sessionGapUs
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         |s AS (SELECT user_id, ts_us, value,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM g)
         |SELECT user_id, MIN(ts_us) AS start_us,
         |  MAX(ts_us) + $sessionGapUs AS end_us,
         |  COUNT(*) AS n_events,
         |  ${sqlMoneySum("value")} AS sum_value
         |FROM s GROUP BY user_id, session_seq""".stripMargin,

    "rel_q12_asof_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |    WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  c.click_id, epoch_us(c.ts) AS click_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "rel_q13_events_pivot" -> {
      val cols = eventTypes.map(t =>
        s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ")
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, $cols
         |FROM events GROUP BY 1""".stripMargin
    },

    "rel_q14_repeat_customers" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "rel_q15_moving_window" ->
      """WITH h AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_ts, event_type, n,
        |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour_ts
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling_n
        |FROM h""".stripMargin,

    // the same bounded range self-join, hour-distance weights as
    // powers of two — DuckDB's << replays shiftleft exactly
    "rel_q46_decay" ->
      s"""WITH h AS (SELECT user_id,
         |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         |    CAST(SUM(${Exact.sqlCents("value")}) AS BIGINT)
         |      AS x_cents
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(a.user_id AS BIGINT) AS user_id,
         |  a.hour_ts, a.x_cents,
         |  CAST(SUM(b.x_cents <<
         |    CAST(7 - (a.hour_ts - b.hour_ts) // 3600 AS INT))
         |    AS BIGINT) AS decay_x256
         |FROM h a JOIN h b ON a.user_id = b.user_id
         |  AND b.hour_ts <= a.hour_ts
         |  AND b.hour_ts >= a.hour_ts - 7 * 3600
         |GROUP BY 1, 2, 3""".stripMargin,

    "rel_q16_median_price" ->
      s"""WITH r AS (SELECT o_orderpriority,
         |    ${Exact.sqlCents("o_totalprice")} AS cents,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |      ORDER BY o_totalprice, o_orderkey) AS rn,
         |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
         |  FROM orders)
         |SELECT o_orderpriority, cents AS median_cents
         |FROM r WHERE rn = (cnt + 1) // 2""".stripMargin,

    "rel_q17_supplier_region" ->
      s"""SELECT r_name,
         |  ${sqlMoneySum("l_extendedprice*(1-l_discount)")} AS revenue,
         |  CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "rel_q18_date_revenue" ->
      s"""SELECT ${sqlMoneySum("l_extendedprice*l_discount")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.02 AND 0.08
         |  AND l_quantity < 24""".stripMargin,

    "rel_q19_salted_parts" ->
      s"""SELECT l_partkey,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS qty_cents,
         |  COUNT(*) AS n_items
         |FROM lineitem GROUP BY l_partkey
         |ORDER BY qty_cents DESC, l_partkey LIMIT 10""".stripMargin,

    "rel_q20_grouping_sets" ->
      s"""SELECT CASE WHEN grouping(o_orderstatus) = 0 THEN 'status'
         |            WHEN grouping(o_orderpriority) = 0 THEN 'priority'
         |            ELSE 'all' END AS dim,
         |  coalesce(o_orderstatus, o_orderpriority, 'ALL') AS key,
         |  COUNT(*) AS n_orders,
         |  ${sqlMoneySum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
        .stripMargin,

    "rel_q21_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |v AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e
        |  JOIN v ON e.user_id = v.user_id AND e.ts_us >= v.t1
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e
        |  JOIN c ON e.user_id = c.user_id AND e.ts_us >= c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_view_click,
        |  (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin,

    "rel_q22_asof_native" ->
      """WITH p AS (SELECT event_id, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
        |    WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_us,
        |    max(event_id) AS click_id FROM events
        |    WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.click_id, c.click_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.click_us"""
        .stripMargin,

    "rel_q23_price_quartiles" ->
      s"""WITH b AS (SELECT c_mktsegment, c_custkey,
         |    ${sqlCents("c_acctbal")} AS bal_cents FROM customer),
         |q AS (SELECT c_mktsegment, bal_cents,
         |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
         |      ORDER BY bal_cents, c_custkey) AS INT) AS quartile
         |  FROM b)
         |SELECT c_mktsegment, quartile, COUNT(*) AS n_cust,
         |  min(bal_cents) AS min_cents, max(bal_cents) AS max_cents
         |FROM q GROUP BY 1, 2""".stripMargin,

    "rel_q24_retention" -> {
      val weekUs = 7L * 24 * 3600 * 1000000L
      s"""WITH e AS (SELECT DISTINCT user_id,
         |    CAST(epoch_us(ts) AS BIGINT) // $weekUs AS week
         |  FROM events),
         |c AS (SELECT user_id, min(week) AS cohort_week
         |  FROM e GROUP BY user_id)
         |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
         |  COUNT(*) AS n_active
         |FROM e JOIN c ON e.user_id = c.user_id
         |GROUP BY 1, 2""".stripMargin
    },

    "rel_q25_median_sketch" -> {
      val rank = graft.functions.QuantileSketch.rank60Sql("strpos")
      s"""WITH o AS (SELECT o_orderpriority, o_totalprice, o_orderkey,
         |    ${Exact.sqlCents("o_totalprice")} AS cents,
         |    md5(CAST(o_orderkey AS VARCHAR)) AS h
         |  FROM orders),
         |r AS (SELECT o_orderpriority, cents, ($rank) AS rk FROM o),
         |s AS (SELECT o_orderpriority, cents,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |      ORDER BY rk, cents) AS rn
         |  FROM r),
         |samp AS (SELECT o_orderpriority,
         |    list(cents ORDER BY cents) AS vals
         |  FROM s WHERE rn <= $qsketchK GROUP BY o_orderpriority),
         |sk AS (SELECT o_orderpriority,
         |    vals[greatest(1, CAST(ceil(0.5 * len(vals)) AS INT))]
         |      AS sketch_cents
         |  FROM samp),
         |agg AS (SELECT o.o_orderpriority,
         |    CAST(COUNT(*) AS BIGINT) AS n_orders,
         |    max(sk.sketch_cents) AS sketch_cents,
         |    CAST(SUM(CASE WHEN o.cents <= sk.sketch_cents
         |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_le
         |  FROM o JOIN sk USING (o_orderpriority)
         |  GROUP BY o.o_orderpriority),
         |ex AS (SELECT o_orderpriority, cents AS median_cents FROM (
         |    SELECT o_orderpriority, cents,
         |      ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |        ORDER BY o_totalprice, o_orderkey) AS rn,
         |      COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
         |    FROM o)
         |  WHERE rn = (cnt + 1) // 2)
         |SELECT agg.o_orderpriority, agg.n_orders, ex.median_cents,
         |  agg.sketch_cents,
         |  abs(agg.sketch_cents - ex.median_cents) AS abs_err_cents,
         |  abs((agg.cnt_le * 1000000) // agg.n_orders - 500000)
         |    AS rank_err_ppm
         |FROM agg JOIN ex USING (o_orderpriority)""".stripMargin
    },

    "rel_q26_quartiles_sketch" -> {
      val rank = graft.functions.QuantileSketch.rank60Sql("strpos")
      s"""WITH c AS (SELECT c_mktsegment,
         |    ${Exact.sqlCents("c_acctbal")} AS bal_cents,
         |    md5(CAST(c_custkey AS VARCHAR)) AS h
         |  FROM customer),
         |r AS (SELECT c_mktsegment, bal_cents, ($rank) AS rk FROM c),
         |s AS (SELECT c_mktsegment, bal_cents,
         |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
         |      ORDER BY rk, bal_cents) AS rn
         |  FROM r),
         |samp AS (SELECT c_mktsegment,
         |    list(bal_cents ORDER BY bal_cents) AS vals
         |  FROM s WHERE rn <= $qsketchK GROUP BY c_mktsegment),
         |sk AS (SELECT c_mktsegment,
         |    vals[greatest(1, CAST(ceil(0.25 * len(vals)) AS INT))] AS b1,
         |    vals[greatest(1, CAST(ceil(0.5 * len(vals)) AS INT))] AS b2,
         |    vals[greatest(1, CAST(ceil(0.75 * len(vals)) AS INT))] AS b3
         |  FROM samp),
         |q AS (SELECT c.c_mktsegment, c.bal_cents,
         |    CAST(1 + (CASE WHEN c.bal_cents > sk.b1 THEN 1 ELSE 0 END)
         |           + (CASE WHEN c.bal_cents > sk.b2 THEN 1 ELSE 0 END)
         |           + (CASE WHEN c.bal_cents > sk.b3 THEN 1 ELSE 0 END)
         |      AS INT) AS quartile
         |  FROM c JOIN sk USING (c_mktsegment))
         |SELECT c_mktsegment, quartile, COUNT(*) AS n_cust,
         |  min(bal_cents) AS min_cents, max(bal_cents) AS max_cents
         |FROM q GROUP BY 1, 2""".stripMargin
    },

    // the oracle states the range join as the PLAIN inequality join
    // the bucketed plan must be equivalent to
    "rel_q27_range_join" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_type FROM events),
        |stats AS (SELECT
        |    (3 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |     + 2 * count(DISTINCT sec // 3600) - 1)
        |    // (2 * count(DISTINCT sec // 3600)) AS thr FROM e),
        |wins AS (SELECT sec // 3600 AS hb, count(*) AS ne FROM e
        |  WHERE event_type = 'error' GROUP BY 1),
        |w AS (SELECT hb, hb * 3600 - 1800 AS win_lo,
        |    hb * 3600 + 5400 AS win_hi FROM wins, stats
        |  WHERE ne >= thr)
        |SELECT w.hb * 3600 AS hour_ts, w.win_lo, w.win_hi,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_err
        |FROM w JOIN e ON e.sec >= w.win_lo AND e.sec < w.win_hi
        |GROUP BY 1, 2, 3""".stripMargin,

    "rel_q28_user_gaps" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT event_type, ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type""".stripMargin,

    "rel_q30_full_outer" ->
      s"""WITH o AS (SELECT epoch_us(o_orderdate) // ${24L * 3600 * 1000000L}
         |    AS day, CAST(count(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY 1),
         |e AS (SELECT epoch_us(ts) // ${24L * 3600 * 1000000L} AS day,
         |    CAST(count(*) AS BIGINT) AS n_purchases
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT coalesce(o.day, e.day) AS day,
         |  coalesce(o.n_orders, 0) AS n_orders,
         |  coalesce(e.n_purchases, 0) AS n_purchases
         |FROM o FULL JOIN e ON o.day = e.day""".stripMargin,

    // Same correlated spelling DuckDB-side (its optimizer
    // decorrelates too — both engines flatten the same query);
    // SUM(BIGINT) is HUGEINT in DuckDB, fine as a comparison operand.
    "rel_q29_above_brand_avg" ->
      s"""SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_above
         |FROM part p
         |WHERE ${sqlCents("p.p_retailprice")} *
         |    (SELECT COUNT(*) FROM part p2
         |     WHERE p2.p_brand = p.p_brand)
         |  > (SELECT SUM(${sqlCents("p3.p_retailprice")}) FROM part p3
         |     WHERE p3.p_brand = p.p_brand)
         |GROUP BY p.p_brand""".stripMargin,

    // integer counts, medians at worst x.5 (exact in binary), no
    // division — both engines agree bitwise on every column
    "rel_q31_hourly_anomaly" ->
      """WITH hours AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |med AS (SELECT CAST(median(n) AS DOUBLE) AS med FROM hours),
        |stats AS (SELECT MIN(med) AS med,
        |    CAST(median(abs(n - med)) AS DOUBLE) AS mad
        |  FROM hours, med)
        |SELECT h.hour_ts, h.n, s.med, s.mad,
        |  abs(h.n - s.med) AS abs_dev,
        |  (abs(h.n - s.med) > s.mad * 3) AS is_anomaly
        |FROM hours h, stats s ORDER BY h.hour_ts""".stripMargin,

    // levenshtein is a built-in in both engines (same DP definition);
    // the blocking key is the identical prefix expression on both
    // sides, so blocking recall loss — a real pair split across
    // blocks — is mirrored exactly
    "rel_q32_entity_fuzzy" ->
      """SELECT a.s_name AS a_name, b.s_name AS b_name,
        |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
        |FROM supplier a JOIN supplier b
        |  ON substring(a.s_name, 1, 16) = substring(b.s_name, 1, 16)
        |  AND a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin,

    // orientation-independent replay: the a<b<c three-way join
    // counts each triangle exactly once, no degree ordering — a
    // structurally different algorithm than the engine's oriented
    // wedge join, agreeing only if both are right
    "rel_q33_triangles" ->
      """WITH pr AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3),
        |nd AS (SELECT a AS n FROM pr UNION SELECT b FROM pr)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nd) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pr e1
        |    JOIN pr e2 ON e2.a = e1.a AND e2.b > e1.b
        |    JOIN pr e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles"""
        .stripMargin,

    // from-scratch recounts on base and posterior (the same 3-join
    // spelling as rel_q33) — the engine's stored-base + delta-keyed
    // enumeration must land on the difference exactly
    "rel_q47_triangles_incr" ->
      """WITH pr AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3),
        |pb AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3
        |    AND x.l_orderkey % 10 <> 7),
        |cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base
        |  FROM pb e1
        |  JOIN pb e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN pb e3 ON e3.a = e1.b AND e3.b = e2.b),
        |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM pr e1
        |  JOIN pr e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN pr e3 ON e3.a = e1.b AND e3.b = e2.b),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_delta_edges
        |  FROM (SELECT a, b FROM pr EXCEPT SELECT a, b FROM pb))
        |SELECT cb.n_base, ct.n_total - cb.n_base AS n_new,
        |  nd.n_delta_edges, ct.n_total
        |FROM cb, ct, nd""".stripMargin,

    // iterative peel unrolled as chained CTEs (idempotent at the
    // fixpoint, so unroll depth only needs to exceed convergence —
    // the engine asserts that in lockstep with KcoreRounds)
    "rel_q34_kcore" -> {
      // AS MATERIALIZED: each CTE references its predecessor several
      // times — inlined, the 16-round chain would expand into an
      // exponential scan tree (observed as fd exhaustion)
      val rounds = (0 until KcoreRounds).map { i =>
        s"""n${i + 1} AS MATERIALIZED (SELECT node
           |  FROM (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i)
           |  GROUP BY node HAVING count(*) >= $KcoreK),
           |e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
           |  WHERE a IN (SELECT node FROM n${i + 1})
           |    AND b IN (SELECT node FROM n${i + 1}))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3),
         |$rounds
         |SELECT node, count(*) AS core_deg
         |FROM (SELECT a AS node FROM e$KcoreRounds
         |      UNION ALL SELECT b FROM e$KcoreRounds)
         |GROUP BY node""".stripMargin
    },

    // the Morton fold replayed bit-for-bit with >>/& arithmetic
    "rel_q35_zorder" -> {
      val fold = (15 to 0 by -1).foldLeft("0") { (acc, i) =>
        s"(($acc) * 4 + ((ux >> $i) & 1) * 2 + ((tx >> $i) & 1))"
      }
      s"""WITH dims AS (SELECT event_id,
         |    user_id % 65536 AS ux,
         |    (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600)
         |      % 65536 AS tx
         |  FROM events)
         |SELECT event_id, ux, tx, $fold AS zv FROM dims""".stripMargin
    },

    // the O(n²) domination DEFINITION itself — structurally
    // independent of the engine's range-partitioned prefix-max
    // factorization: a frontier that drops a tied point, keeps a
    // dominated one, or mishandles equal-price groups hash-mismatches
    "rel_q36_skyline" ->
      s"""WITH p AS (SELECT p_partkey AS partkey,
         |    ${sqlCents("p_retailprice")} AS cents,
         |    CAST(p_size AS BIGINT) AS size
         |  FROM part)
         |SELECT a.partkey, a.cents, a.size FROM p a
         |WHERE NOT EXISTS (SELECT 1 FROM p b
         |  WHERE b.cents <= a.cents AND b.size >= a.size
         |    AND (b.cents < a.cents OR b.size > a.size))""".stripMargin,

    // the UNION ALL spelling of the same reshape — an unpivot that
    // drops rows, mislabels metrics, or loses exactness in the
    // cents ride hash-mismatches
    "rel_q40_unpivot" ->
      s"""WITH m AS (
         |  SELECT 'quantity_c' AS metric,
         |    CAST(l_quantity * 100 AS BIGINT) AS v FROM lineitem
         |  UNION ALL SELECT 'extendedprice_c',
         |    ${sqlCents("l_extendedprice")} FROM lineitem
         |  UNION ALL SELECT 'discount_c',
         |    ${sqlCents("l_discount")} FROM lineitem
         |  UNION ALL SELECT 'tax_c',
         |    ${sqlCents("l_tax")} FROM lineitem)
         |SELECT metric, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v) AS BIGINT) AS sum_c,
         |  min(v) AS min_c, max(v) AS max_c
         |FROM m GROUP BY 1""".stripMargin,

    // per-column UNION ALL profile — lexicographic min/max over the
    // same string forms, doubles as cents so no float formatting
    // crosses the engine boundary
    "rel_q41_profile" -> {
      val plain = Seq("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment")
        .map(c => s"SELECT '$c' AS column_name, " +
          s"CAST($c AS VARCHAR) AS v FROM customer")
      val acct = "SELECT 'c_acctbal_c', " +
        s"CAST(${sqlCents("c_acctbal")} AS VARCHAR) FROM customer"
      s"""WITH p AS (${(plain :+ acct).mkString("\n  UNION ALL ")})
         |SELECT column_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
         |  min(v) AS min_s, max(v) AS max_s
         |FROM p GROUP BY 1""".stripMargin
    },

    // the same run-collapse replayed with DuckDB's own window
    // functions over the same deterministic (ts, event_id) order —
    // a versioner that flaps on ts ties, misses a type change, or
    // closes intervals at run END instead of next-run START
    // hash-mismatches
    "rel_q42_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |v AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS version FROM m),
        |r AS (SELECT user_id, version, event_type,
        |    MIN(ts_us) AS valid_from_us,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(version AS BIGINT) AS version,
        |  event_type, valid_from_us, n_events,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY version) AS valid_to_us,
        |  (lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY version) IS NULL) AS is_current
        |FROM r""".stripMargin,

    // incremental == from-scratch: the same domination definition
    // over the FULL posterior set — the stored-frontier union path
    // must reproduce it exactly (domination monotonicity)
    "rel_q39_skyline_incr" ->
      s"""WITH p AS (SELECT p_partkey AS partkey,
         |    ${sqlCents("p_retailprice")} AS cents,
         |    CAST(p_size AS BIGINT) AS size
         |  FROM part)
         |SELECT a.partkey, a.cents, a.size FROM p a
         |WHERE NOT EXISTS (SELECT 1 FROM p b
         |  WHERE b.cents <= a.cents AND b.size >= a.size
         |    AND (b.cents < a.cents OR b.size > a.size))""".stripMargin,

    // the whole resample replayed: grid via range(), the SAME
    // segment-max LOCF spelling (one non-null observation per
    // segment by construction), gap runs by segment size — an
    // engine that mis-grids, carries across users, or breaks ties
    // differently in the per-hour observation hash-mismatches
    "rel_q37_resample" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(ts) // 3600000000 AS hour FROM events),
        |hourly AS (SELECT user_id, hour,
        |    CAST(count(*) AS BIGINT) AS n,
        |    max(event_id) AS obs FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hour
        |  FROM span),
        |f AS (SELECT g.user_id, g.hour, h.n, h.obs
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.user_id = h.user_id AND g.hour = h.hour),
        |seg AS (SELECT *, SUM(CASE WHEN n IS NOT NULL THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY hour)
        |    AS grp FROM f),
        |c AS (SELECT *, MAX(obs) OVER (PARTITION BY user_id, grp)
        |    AS carried FROM seg),
        |u1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_gap,
        |    CAST(SUM(coalesce(n, 0)) AS BIGINT) AS sum_events,
        |    CAST(SUM(CASE WHEN n IS NULL THEN carried ELSE 0 END)
        |      AS BIGINT) AS sum_carried_gap
        |  FROM c GROUP BY 1),
        |runs AS (SELECT user_id, grp, count(*) AS runlen FROM c
        |  WHERE n IS NULL GROUP BY 1, 2),
        |u2 AS (SELECT user_id, CAST(max(runlen) AS BIGINT) AS lg
        |  FROM runs GROUP BY 1)
        |SELECT u1.user_id, n_hours, n_gap, sum_events,
        |  sum_carried_gap, coalesce(u2.lg, 0) AS longest_gap
        |FROM u1 LEFT JOIN u2 ON u1.user_id = u2.user_id""".stripMargin,

    // the SAME fixed round count unrolled as chained CTEs, with the
    // plurality argmax as an independent row_number spelling — an
    // engine that propagates asynchronously, counts self-labels, or
    // tie-breaks by anything but the smallest label diverges by
    // round 2
    "rel_q38_communities" -> {
      val rounds = (1 to LpaRounds).map { r =>
        s"""nbr$r AS MATERIALIZED (
           |  SELECT e.a AS node, l.lab FROM e0 e
           |    JOIN lab${r - 1} l ON l.node = e.b
           |  UNION ALL
           |  SELECT e.b AS node, l.lab FROM e0 e
           |    JOIN lab${r - 1} l ON l.node = e.a),
           |lab$r AS MATERIALIZED (SELECT node, lab FROM (
           |    SELECT node, lab, row_number() OVER (PARTITION BY node
           |      ORDER BY count(*) DESC, lab ASC) AS rn
           |    FROM nbr$r GROUP BY node, lab)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3),
         |lab0 AS MATERIALIZED (SELECT node, node AS lab
         |  FROM (SELECT a AS node FROM e0 UNION SELECT b FROM e0)),
         |$rounds
         |SELECT lab AS community, CAST(count(*) AS BIGINT)
         |  AS n_members
         |FROM lab$LpaRounds GROUP BY 1""".stripMargin
    },

    // every constraint metric recomputed as independent scalar SQL
    // (the uniqueness gap, both completeness counts, range,
    // accepted-values, and the anti-join referential count), then
    // assembled row-per-constraint — structurally nothing like the
    // engine's one-pass join+stack plan
    "rel_q43_expectations" ->
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS total
        |  FROM orders)
        |SELECT 'orders.o_custkey.ref_customer' AS expectation,
        |  tot.total,
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c
        |     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        |    AS violations,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c
        |     WHERE c.c_custkey = o.o_custkey)) = 0 AS pass
        |FROM tot
        |UNION ALL
        |SELECT 'orders.o_orderdate.complete', tot.total,
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_orderdate IS NULL) AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_orderdate IS NULL) = 0
        |FROM tot
        |UNION ALL
        |SELECT 'orders.o_orderkey.unique', tot.total,
        |  CAST((SELECT count(*) - count(DISTINCT o_orderkey)
        |    FROM orders) AS BIGINT),
        |  (SELECT count(*) - count(DISTINCT o_orderkey)
        |    FROM orders) = 0
        |FROM tot
        |UNION ALL
        |SELECT 'orders.o_orderpriority.complete', tot.total,
        |  CAST((SELECT count(*) FROM orders WHERE o_orderpriority
        |    IS NULL OR o_orderpriority = '') AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL
        |    OR o_orderpriority = '') = 0
        |FROM tot
        |UNION ALL
        |SELECT 'orders.o_orderstatus.values', tot.total,
        |  CAST((SELECT count(*) FROM orders WHERE o_orderstatus
        |    IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P'))
        |    AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL
        |    OR o_orderstatus NOT IN ('O', 'F', 'P')) = 0
        |FROM tot
        |UNION ALL
        |SELECT 'orders.o_totalprice.range', tot.total,
        |  CAST((SELECT count(*) FROM orders WHERE o_totalprice < 0
        |    OR o_totalprice > 600000) AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0
        |    OR o_totalprice > 600000) = 0
        |FROM tot""".stripMargin,

    // the CC fixpoint recomputed as a SET-SEMANTICS recursive
    // closure (label set per node, min at the end) — a different
    // algorithm from the engine's pointer-jumping min-propagation,
    // so agreement checks convergence itself, not the loop
    "rel_q44_components" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber = 1 AND y.l_linenumber = 2),
        |edges AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |r(node, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.node),
        |labels AS (SELECT node, min(lbl) AS lbl FROM r GROUP BY node)
        |SELECT lbl AS component_id, CAST(count(*) AS BIGINT)
        |  AS n_parts
        |FROM labels GROUP BY 1""".stripMargin,

    // the incremental contract IS "stored-base + contracted delta ==
    // full rebuild": the oracle recomputes CC over base ∪ delta from
    // scratch (recursive closure) and marks components containing a
    // delta-edge endpoint — the engine must reproduce it from the
    // stored labels + component-granularity arithmetic alone
    "rel_q45_components_incr" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber = 1 AND y.l_linenumber = 2),
        |de AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  WHERE x.l_linenumber = 1 AND y.l_linenumber = 2
        |    AND x.l_orderkey % 10 = 7),
        |dn AS (SELECT DISTINCT node FROM (
        |  SELECT a AS node FROM de UNION ALL SELECT b FROM de)),
        |edges AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |r(node, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.node),
        |labels AS (SELECT node, min(lbl) AS lbl FROM r GROUP BY node)
        |SELECT l.lbl AS component_id,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  bool_or(d.node IS NOT NULL) AS touched
        |FROM labels l LEFT JOIN dn d ON l.node = d.node
        |GROUP BY 1""".stripMargin,
  )
}
