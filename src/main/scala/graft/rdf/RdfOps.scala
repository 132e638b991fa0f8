package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Fixpoint
import graft.functions.IsValidIri
import Vocab._

/** The reference pipeline's operators (SURVEY.md §2, O4–O18) as pure
  * `DataFrame => DataFrame` transformations over the canonical triple
  * schema (Model.columns).
  *
  * Everything here is declarative Catalyst: filters and projections
  * are map-side (no shuffle), the two join-shaped operators
  * (customvocab anti-join, typed semi-join) broadcast their
  * intrinsically-small build sides. At 100 TB the fact side (the
  * triple table) is never shuffled by the cleaning pass — only
  * `dropDuplicates` after unions repartitions, on all 8 columns.
  */
object RdfOps {

  /** O4 — remove JSON-LD `@context` artifacts
    * (reference: src/export_from_omeka_s.py:54,59). */
  def filterContextLeaks(df: DataFrame): DataFrame =
    df.filter(!col("subject").contains("@context") &&
      !col("obj_value").contains("@context"))

  /** O5 — drop triples whose subject is not a valid IRI
    * (reference: src/export_from_omeka_s.py:54,59; `uritools
    * .is_valid_uri`). Native codegen expression, stays in
    * whole-stage codegen. */
  def filterValidSubjects(df: DataFrame): DataFrame =
    df.filter(IsValidIri(col("subject")))

  /** O7 — drop triples whose object is an IRI-kind term but not a
    * valid IRI (reference: src/export_from_omeka_s.py:66–71). */
  def filterValidObjectIris(df: DataFrame): DataFrame =
    df.filter(col("obj_kind") =!= "iri" || IsValidIri(col("obj_value")))

  /** O6 — customvocab anti-join, implementing the *intent* of the
    * reference's dead filter (bug B1, SURVEY §2.4; reference:
    * src/export_from_omeka_s.py:60–65): remove triples whose object
    * references a subject typed with a customvocab class.
    *
    * The build side is the set of custom-vocabulary term subjects —
    * vocabulary-scale (thousands), not corpus-scale — so it is
    * explicitly broadcast: the 100 TB fact side streams map-side
    * through a broadcast hash anti-join, no shuffle.
    */
  def filterCustomvocabRefs(df: DataFrame): DataFrame = {
    val cv = df
      .filter(col("predicate") === RdfType &&
        col("obj_value").contains("customvocab"))
      .select(col("subject").as("cv_subject"))
      .distinct()
    df.join(broadcast(cv), col("obj_value") === col("cv_subject"),
      "left_anti")
  }

  /** The full export cleaning pass (O4 → O5 → O7 → O6), i.e. the body
    * of the reference's export filter loop
    * (src/export_from_omeka_s.py:53–71) as one composed dataflow.
    *
    * `faithful = true` replays the reference's OBSERVED behavior for
    * bug B1 instead of its intent: the customvocab check at
    * export_from_omeka_s.py:60 evaluates `"customvocab" in
    * str(<generator>)` — the str of a generator object, never the
    * types — so the O6 filter removes NOTHING in the real run. The
    * flag exists for differential testing (intent vs observed), per
    * SURVEY §7 hard-point 3. */
  def cleanExport(df: DataFrame, faithful: Boolean = false): DataFrame = {
    val base = filterValidObjectIris(filterValidSubjects(
      filterContextLeaks(df)))
    if (faithful) base else filterCustomvocabRefs(base)
  }

  /** O17 — predicate rename (reference:
    * src/transform_datamodel.py:112–119). The reference removes and
    * re-adds every mapped triple; here it is a pure map-side
    * projection through a literal-map lookup (`element_at` on a
    * `typedLit` map — codegen'd, broadcast implicitly as part of the
    * plan, zero shuffle at any scale). */
  def applyMapping(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.withColumn("predicate",
      coalesce(element_at(typedLit(mapping), col("predicate")),
        col("predicate")))

  /** O18 — predicate delete (reference:
    * src/transform_datamodel.py:121–127): `isin` anti-filter, pushed
    * into the scan when reading parquet. */
  def applyFilter(df: DataFrame, filterList: Seq[String]): DataFrame =
    if (filterList.isEmpty) df
    else df.filter(!col("predicate").isin(filterList: _*))

  /** O15/O2 — set-semantics union: rdflib graphs are sets, so
    * re-parsing overlapping pages/enrichment into one graph implicitly
    * dedups (reference: src/export_from_omeka_s.py:50,
    * src/transform_datamodel.py:102). One shuffle on all columns. */
  def unionDedup(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).dropDuplicates()

  /** O14 (key step) — normalized enrichment lookup keys: triples with
    * the rijksmonumentnummer predicate and a *literal* object (bug
    * B2's intent, SURVEY §2.4), key normalized by stripping a leading
    * "RM" (reference: src/transform_datamodel.py:91–96), deduplicated
    * (the reference fetches once per occurrence — B5; the engine
    * fetches once per distinct key).
    *
    * `faithful = true` replays B2's OBSERVED behavior: the guard at
    * transform_datamodel.py:92 is `not isinstance(str(obj), URIRef)`
    * — str() always yields a `str`, so the guard is always true and
    * the reference fetches for IRI-valued objects too. */
  def enrichmentKeys(df: DataFrame, faithful: Boolean = false): DataFrame = {
    val rm = df.filter(col("predicate") === CeoRijksmonumentnummer)
    val keyed = if (faithful) rm else rm.filter(col("obj_kind") === "literal")
    keyed.select(normalizeMonumentKey(col("obj_value")).as("monument_key"))
      .distinct()
  }

  def normalizeMonumentKey(c: Column): Column =
    when(c.startsWith("RM"), c.substr(lit(3), length(c))).otherwise(c)

  /** O14 incremental fetch list WITH the reference's freshness
    * contract. The pure anti-join delta ([[graft.rdf.RdfQueries]]
    * `rdf_enrich_delta`) fetches only keys the stored snapshot has
    * never seen — but the reference re-fetches EVERY key weekly
    * (transform_datamodel.py:88–101), so upstream monument-record
    * updates propagate within a week; never refreshing a fetched key
    * silently changes that freshness semantics. This form restores
    * it: the fetch list is
    *
    *   - `missing`: export keys absent from the ledger, plus
    *   - `stale`:   export keys whose last fetch is `ttlDays` or more
    *     days old (`age_days >= ttlDays`),
    *
    * tagged with a `reason` column so the fetch loop can meter both
    * populations. `ledger` is `(monument_key, age_days)` — the
    * fetched-at sidecar a production snapshot stores next to its
    * triples. A projection of [[enrichmentLedgerPass]], which
    * [[graft.Pipeline.runIncremental]] materializes once and also
    * derives the next ledger from. */
  def enrichmentFetchList(exportKeys: DataFrame, ledger: DataFrame,
      ttlDays: Int = 7): DataFrame =
    enrichmentLedgerPass(exportKeys, ledger, ttlDays)
      .filter(col("reason").isin(Missing, Stale))
      .select(col("monument_key"), col("reason"))

  /** `reason` tags of [[enrichmentLedgerPass]]: fetch because the
    * ledger never saw the key, fetch because its last fetch is past
    * the TTL, or serve the stored enrichment. */
  val Missing = "missing"
  val Stale = "stale"
  val Fresh = "fresh"

  /** The keyed LEDGER PASS behind [[enrichmentFetchList]]: one
    * full-outer join of the export keys against the ledger,
    * pre-aggregated to `max(age_days)` per key, so duplicated ledger
    * keys collapse to their oldest fetch. One row per key on either
    * side, `(monument_key, age_days, reason)`:
    *
    *   - `reason` is [[Missing]], [[Stale]] or [[Fresh]] for an
    *     export key, null for a ledger key outside the export;
    *   - `age_days` is the ledger's `max(age_days)` (null when the
    *     ledger never saw the key or holds only null ages; a null age
    *     is never stale).
    *
    * Every row is a row of the next ledger (attempted keys reset to
    * age 0, the rest keep their age), so a caller that materializes
    * this pass once gets the fetch list, both fetch counts and the
    * next ledger from it with no further join. Scale shape: key-scale
    * on both sides — one aggregate over the dimension-scale ledger
    * and one join on `monument_key`. */
  def enrichmentLedgerPass(exportKeys: DataFrame, ledger: DataFrame,
      ttlDays: Int = 7): DataFrame = {
    val stored = ledger.groupBy("monument_key")
      .agg(max("age_days").as("age_days"))
      .withColumn("stored", lit(true))
    exportKeys.select(col("monument_key"), lit(true).as("exported"))
      .join(stored, Seq("monument_key"), "full_outer")
      .select(col("monument_key"), col("age_days"),
        when(col("exported"), when(col("stored").isNull, Missing)
          .when(col("age_days") >= ttlDays, Stale)
          .otherwise(Fresh)).as("reason"))
  }

  /** O14+O15+O16 — the enrichment stage (reference:
    * src/transform_datamodel.py:88–109): union the fetched enrichment
    * triples into the graph, then for every rijksmonumentnummer triple
    * whose subject is typed `ceo#Rijksmonument` in the *enriched*
    * graph, derive `(subj, sdo:sameAs, obj)`. Set semantics via one
    * full-width dedup at the end ([[enrichRows]] is the same stage
    * without it).
    *
    * The typed-subject set is dimension-scale (one row per monument)
    * → broadcast left-semi join; the enriched graph itself is never
    * shuffled except by the final set-union dedup.
    */
  def enrich(graph: DataFrame, fetched: DataFrame): DataFrame =
    enrichRows(graph, fetched).dropDuplicates()

  /** [[enrich]]'s rows before the set-semantics dedup: for a caller
    * that renames/deletes predicates afterwards and must deduplicate
    * AFTER the rename (a renamed predicate can collide with a triple
    * already present), so that one dedup covers both. */
  def enrichRows(graph: DataFrame, fetched: DataFrame): DataFrame = {
    // the intermediate set-semantics dedup the reference gets from
    // rdflib (transform:102) is subsumed by the caller's final one —
    // the typed-subject set only needs its own narrow distinct on
    // `subject`
    val combined = graph.union(fetched)
    val rmnr = graph.filter(col("predicate") === CeoRijksmonumentnummer &&
      col("obj_kind") === "literal")
    val typed = combined
      .filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject")).distinct()
    val sameAs = rmnr
      .join(broadcast(typed), Seq("subject"), "left_semi")
      .select(col("graph"), col("subject"), col("subject_kind"),
        lit(SdoSameAs).as("predicate"), col("obj_value"),
        col("obj_kind"), col("obj_lang"), col("obj_datatype"))
    combined.union(sameAs)
  }

  /** SPARQL property-path reachability `p{1,maxHops}` (the bounded
    * form of `dcterms:relation+`) — a cycle-safe set closure Spark
    * SQL cannot express (its `WITH RECURSIVE` rejects `UNION` in the
    * recursive term); implemented as SEMI-NAIVE
    * Datalog iteration ([[walk]]), the standard distributed
    * transitive-closure shape: each round joins only the FRONTIER
    * (pairs first reached last round) against the edge table, so
    * per-round work is O(frontier × out-degree) — never O(all reached
    * pairs). The BFS invariant (a pair is emitted the first round it
    * appears) makes the reported `hops` the MINIMUM path length
    * without any min-aggregation over enumerated paths. Cycles are
    * handled exactly: a pair already reached is dropped by the
    * anti-join, so the frontier is monotone-decreasing on a finite
    * node set and the loop always terminates — and (s, s, c) rows for
    * cycles back to a seed ARE emitted, matching SPARQL/recursive-CTE
    * semantics (the seed self-pairs start the walk but are not
    * excluded from it).
    *
    * Scale shape (100 TB): the edge table is scanned once per round
    * and hash-joined on `src`; a store that bucket-partitions edges
    * by `src` makes every round's join co-located. The frontier and
    * reached sets are localCheckpoint'ed per round — same lineage
    * discipline as the connected-components and Lloyd loops.
    *
    * @param edges (src, dst) edge table
    * @param seeds (src) roots to walk from
    * @return (src, dst, hops) with hops = min path length in [1, maxHops]
    */
  def reachable(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    walk(edges, seeds.select(col("src"), col("src").as("dst")).distinct(),
      None, Some(maxHops))

  /** SPARQL `p+` — the UNBOUNDED `(src, dst)` PAIR closure from
    * `seeds`, the engine's one operator for unbounded pair sets (the
    * SPARQL `+`/`*` binding set; min-hop consumers use [[reachable]]).
    *
    * String keys (IRIs) run behind a NODE DICTIONARY: each distinct
    * node gets a long id (monotonically_increasing_id over a
    * checkpointed distinct — partition-deterministic once pinned), the
    * ladder runs on long pairs and the result is decoded once at the
    * end, so every squaring round's join + set-dedup exchanges, hashes
    * and compares 8-byte longs instead of ~40–60-byte IRI strings.
    * The dict build and the decode are one-off edge/closure-scale
    * passes outside the ladder's AQE-off scope, so the planner picks
    * their join strategy from runtime sizes. Numeric keys (the
    * ontology chain's `p_size` ints) are already narrow and run the
    * ladder directly: the key TYPE selects the encode, not a size.
    *
    * Ownership: the result is an eager serialized checkpoint that the
    * CALLER owns — a memoizing caller stores it as is and must not
    * re-checkpoint it (a second copy would pin the closure twice for
    * the session); every interior checkpoint is freed before return.
    *
    * @param edges (src, dst) edge table; both columns of one type
    * @param seeds (src) sources; pass every edge source for the
    *              all-sources closure
    * @return (src, dst), duplicate-free */
  def reachablePlusPairs(edges: DataFrame, seeds: DataFrame): DataFrame =
    if (edges.schema("src").dataType != StringType)
      ladder(edges, seeds, edges.count())
    else {
    // the edge count the ladder sizes itself by rides on the dict
    // build, which scans the edges anyway
    val seen = Observation()
    val dict = Fixpoint.ser(edges.observe(seen, nRows)
      .select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .withColumn("nid", monotonically_increasing_id()))
    val eN = edges
      .join(dict.select(col("node").as("src"), col("nid").as("_s")),
        Seq("src"))
      .join(dict.select(col("node").as("dst"), col("nid").as("_t")),
        Seq("dst"))
      .select(col("_s").as("src"), col("_t").as("dst"))
    val seedsN = seeds
      .join(dict.select(col("node").as("src"), col("nid")), Seq("src"))
      .select(col("nid").as("src"))
    val pN = ladder(eN, seedsN, Fixpoint.long(seen.get, "n"))
    val out = Fixpoint.ser(pN
      .join(dict.select(col("nid").as("src"), col("node").as("_sv")),
        Seq("src"))
      .join(dict.select(col("nid").as("dst"), col("node").as("_dv")),
        Seq("dst"))
      .select(col("_sv").as("src"), col("_dv").as("dst")))
    Fixpoint.free(pN)
    Fixpoint.free(dict)
    out
    }

  /** [[reachablePlusPairs]]' algorithm, the EDGE-STEP LADDER —
    * O(log diameter) rounds like path doubling, but the relation
    * squared each round is the EXACT-LENGTH step set E_{2^k} (paths
    * of length exactly 2^k), never the reach set:
    *
    *   P_1 = seeds ∘ E;   E_{2^k} = E_{2^{k-1}} ∘ E_{2^{k-1}}
    *   P_{k+1} = P_k ∪ (P_k ∪ id_seeds) ∘ E_{2^k}
    *
    * Invariant: after phase k, P covers every pair with SOME path of
    * length in [1, 2^k − 1]. Fixpoint proof: if phase k adds nothing,
    * take a missing pair with MINIMAL shortest-path length L
    * (L ≥ 2^k, else covered); split its path as
    * (s →^{L−2^k} u →^{2^k} t); (s,u) is shorter so covered (or u = s
    * via id_seeds), (u,t) ∈ E_{2^k} — so (s,t) would have been added.
    * Contradiction ⟹ converged, with no dependence on knowing the
    * diameter.
    *
    * Work/memory vs the alternatives: the frontier walk pays one
    * cluster barrier per HOP — measured 44 rounds × ~0.6 s of fixed
    * per-round driver cost on the sf0.1 relation graph, 27 s of pure
    * round overhead for a 308k-pair closure. Reach-set squaring is
    * O(log d) rounds but squares the CLOSURE — Θ(L³) chain
    * intermediates, the measured capped-heap OOM at sf1/3 GB (see
    * OPTIMIZATION_r17.md). The ladder keeps log-depth while squaring
    * only exact-length step sets: each E_{2^k} is bounded by the pair
    * closure itself (every exact-length pair is a closure pair), the
    * squaring join's intermediates are one row per (pair, midpoint at
    * exactly half) — the single fixed decomposition point, not every
    * decomposition — and superseded E/P checkpoints are freed each
    * phase, so at most three pair-scale tables are live at once. */
  private def ladder(edges: DataFrame, seeds: DataFrame,
      edgeRows: Long): DataFrame = {
    // the noAqe scope covers the initial edge/seed materializations
    // too — they are the same fixed-shape checkpoint jobs as the
    // phase interiors (measured: scoping only the while-loop left
    // ~2 s of AQE sub-jobs on the doubling fixture's build)
    graft.LoopConf.noAqe(edges.sparkSession) {
    var em: DataFrame = null
    var id: DataFrame = null
    var p: DataFrame = null
    var n = 0L
    // with AQE off nothing coalesces the initial checkpoints, so
    // their width must be sized too — from the edge count (the pair
    // count that sizes the interior needs `p`, which doesn't exist
    // yet); every phase then scans em/p at a width that matches
    // their size instead of 32 near-empty partitions (measured:
    // unsized prep cost ~11 s of 130 ms near-empty tasks across the
    // phases on the doubling fixture). The seed self-pairs are
    // checkpointed too: every phase reads them, and their lineage
    // (a seed scan, plus the dictionary join for encoded keys) would
    // otherwise re-run each phase.
    graft.LoopConf.sized(edges.sparkSession, math.max(edgeRows, 1L)) {
      em = Fixpoint.ser(edges.select(col("src"), col("dst")).distinct())
      id = Fixpoint.ser(seeds.select(col("src"), col("src").as("dst")).distinct())
      val (p0, m0) = Fixpoint.observed(
        em.join(id.select(col("src")), Seq("src"), "left_semi"), nRows)
      p = p0
      n = Fixpoint.long(m0, "n")
    }
    var done = n == 0
    // interior exchanges sized to the measured pair count
    // (graft.LoopConf discipline); the pair set grows toward the
    // closure, which stays within a small factor of the edge count
    // per phase — partitions stay in the guide's 100 MB–1 GB band.
    // AQE off in the interior: the phase plan is fixed-shape over
    // checkpointed inputs at a measured width, and AQE's per-stage
    // re-optimization + sub-job materialization tripled the ladder's
    // wall on the doubling fixture (rdf_path_inv_plus cold: 57 jobs /
    // 8.4 s with AQE vs 24 jobs / 3.2 s without — identical result).
    graft.LoopConf.sized(edges.sparkSession, math.max(n, 1L)) {
    while (!done) {
      val em2 = Fixpoint.ser(em.as("l")
        .join(em.as("r"), col("l.dst") === col("r.src"))
        .select(col("l.src").as("src"), col("r.dst").as("dst"))
        .distinct())
      Fixpoint.free(em)
      em = em2
      val stepped = p.union(id).as("l")
        .join(em.as("r"), col("l.dst") === col("r.src"))
        .select(col("l.src").as("src"), col("r.dst").as("dst"))
      val (pNew, pm) = Fixpoint.observed(p.union(stepped).distinct(), nRows)
      val m = Fixpoint.long(pm, "n")
      if (m == n) {
        Fixpoint.free(pNew)
        done = true
      } else {
        Fixpoint.free(p)
        p = pNew
        n = m
      }
    }
    }
    Fixpoint.free(em)
    Fixpoint.free(id)
    p
    }
  }

  /** INCREMENTAL closure maintenance for `p+` — the weekly-delta
    * form of [[reachablePlusPairs]]: given the stored pair closure of
    * the base edge set and a batch of NEW edges, produce the closure
    * of the union WITHOUT recomputing from scratch. Pair semantics
    * (src, dst) — the SPARQL `+`/`*` binding set; min-hop counts are
    * not maintained incrementally (a new edge can shorten existing
    * paths; a consumer needing hops recomputes, a consumer needing
    * bindings — the common case — pays only for the delta).
    *
    * Semi-naive delta seeding: every genuinely new path crosses at
    * least one new edge (u, v), and its prefix up to u is already in
    * the stored closure (or u IS a seed). So the initial frontier is
    * exactly {(s, v) : (s, u) ∈ closure ∪ seed-self, (u, v) ∈ ΔE}
    * minus already-known pairs, and [[walk]] then continues from it
    * over the UNION edge set (new paths may chain through further new
    * edges), excluding the stored closure and the frontier itself.
    * Work is O(affected pairs), not O(closure): an empty or
    * irrelevant ΔE converges in one empty round.
    *
    * Scale shape: the stored closure is scanned by the delta seeding
    * and by each round's anti-join — the same accepted semi-naive
    * cost as the base walk; ΔE is batch-scale and drives every join. */
  def reachablePlusDelta(edges: DataFrame, deltaEdges: DataFrame,
      seeds: DataFrame, closure: DataFrame): DataFrame = {
    val known = closure.select(col("src"), col("dst"))
    // who can reach a new edge's tail: stored pairs + seed hop-0
    val reachers = known
      .union(seeds.select(col("src"), col("src").as("dst")))
    val de = deltaEdges.select(col("src").as("u"), col("dst").as("v"))
    val frontier = Fixpoint.ser(reachers.join(de, reachers("dst") === col("u"))
      .select(reachers("src"), col("v").as("dst")).distinct()
      .join(known, Seq("src", "dst"), "left_anti"))
    val known2 = known.union(frontier)
    known2.union(walk(edges.union(deltaEdges), frontier, Some(known2), None)
      .select(col("src"), col("dst")))
  }

  /** Compaction width of the walk's reached-set plan: the union of
    * per-round checkpoint frames is re-planned and re-scanned by
    * every subsequent round's anti-join, so letting it grow one
    * frame per round makes round r carry an r-branch union — task
    * binaries past 1 MB and O(rounds²) planning on a ~45-round
    * diameter (measured: rdf_sparql_path_plus at 233 driver jobs /
    * 3.8k tasks for a 308k-pair closure). Folding every
    * `CompactEvery` frames into ONE serialized checkpoint bounds the
    * plan at ≤ CompactEvery+1 branches for an amortized extra
    * closure rewrite every CompactEvery rounds — O(closure·d/8)
    * total bytes, strictly below the semi-naive walk's own
    * O(closure·d) anti-join read cost, so the 100 TB shape is
    * unchanged. */
  private val CompactEvery = 8

  private val nRows = count(lit(1)).as("n")

  /** The one FRONTIER walk (semi-naive rounds) behind [[reachable]]
    * and [[reachablePlusDelta]]: starting from the `start` pairs,
    * round d joins the frontier to `edges` and keeps the pairs found
    * neither in `exclude` nor in an earlier round, tagged `hops = d`.
    * `start` itself is not excluded unless the caller includes it in
    * `exclude`, so a cycle back to a seed is discovered as a fresh
    * (s, s, c) pair. Stops at an empty round or after `maxHops`.
    * Returns (src, dst, hops) for the walked pairs only. */
  private def walk(edges: DataFrame, start: DataFrame,
      exclude: Option[DataFrame], maxHops: Option[Int]): DataFrame = {
    // the edge relation is CHECKPOINTED once for the walk: every
    // round joins against it, and re-running the scan+filter lineage
    // per round paid a parquet scan per hop (measured ~40% of
    // rdf_reachable's cold task time). Serialized+spillable, freed
    // before return; its row count rides on the checkpoint job.
    val (e, em) = Fixpoint.observed(edges.select(col("src").as("e_src"),
      col("dst").as("e_dst")), nRows)
    val ec = Fixpoint.long(em, "n")
    val empty = start.select(col("src"), col("dst"), lit(0).as("hops"))
      .limit(0)
    var frontier = start.select(col("src"), col("dst"))
    // reached = union of `parts`: each round appends its fresh frame;
    // every CompactEvery frames the union is folded into one
    // checkpoint and the superseded frames' blocks are freed.
    var parts = Vector.empty[DataFrame]
    def reached: DataFrame =
      if (parts.isEmpty) empty else parts.reduce(_.union(_))
    def seen: DataFrame = {
      val r = reached.select("src", "dst")
      exclude.fold(r)(_.union(r))
    }
    var d = 1
    // the edge count sizes every interior exchange for the whole walk
    // (graft.LoopConf discipline). AQE stays ON for the walk
    // (measured: the anti-join's runtime-tiny frontier side gets
    // converted to broadcast; with AQE off the static planner keeps
    // sort-merge over the checkpoint-backed sides and task time
    // doubles).
    graft.LoopConf.sized(edges.sparkSession, ec) {
    var fresh = 1L
    while (maxHops.forall(d <= _) && fresh > 0L) {
      val next = frontier.join(e, frontier("dst") === e("e_src"))
        .select(frontier("src"), col("e_dst").as("dst"))
        .distinct()
      // LAZY checkpoint driven by count(): materializing and testing
      // emptiness is ONE job per round, where the previous eager
      // checkpoint + isEmpty paid two (measured 2 jobs/round on
      // rdf_reachable's 22-round walk)
      val frame = next.join(seen, Seq("src", "dst"), "left_anti")
        .withColumn("hops", lit(d))
        .localCheckpoint(false)
      fresh = frame.count()
      if (fresh > 0L) {
        parts :+= frame
        frontier = frame.select(col("src"), col("dst"))
        if (parts.size >= CompactEvery) {
          // compact the PREFIX only: `frontier` aliases the newest
          // frame, and freeing a localCheckpoint kills its blocks with
          // no lineage to recompute from
          val prefix = parts.dropRight(1)
          val compacted = Fixpoint.ser(prefix.reduce(_.union(_)))
          prefix.foreach(Fixpoint.free)
          parts = Vector(compacted, parts.last)
        }
      } else {
        Fixpoint.free(frame)
      }
      d += 1
    }
    // final fold: hand consumers ONE frame, not a round-count union,
    // and release the interior rounds' blocks (and the edge
    // checkpoint) for the session
    val folded = if (parts.size > 1) {
      val out = Fixpoint.ser(reached)
      parts.foreach(Fixpoint.free)
      out
    } else reached
    Fixpoint.free(e)
    folded
    }
  }

  /** O19 — the composed reference pipeline EP1→EP2 (export cleaning →
    * enrichment → rename → delete), one lazy dataflow end-to-end
    * (reference: src/transform_datamodel.py:140–168 + workflow DAG).
    *
    * The cleaned graph is MATERIALIZED once (localCheckpoint): it
    * feeds three downstream consumers (the enrichment union, the
    * rijksmonument scan, the typed-subject scan), and recomputing the
    * parse+clean lineage per consumer tripled the scan work. This
    * mirrors the reference's own design — EP1 writes the cleaned
    * export to a file that EP2 reads (workflow artifact hand-off,
    * yml:33–54); at cluster scale the same stage boundary is a
    * parquet write of the cleaned triple table. */
  def pipeline(raw: DataFrame, fetched: DataFrame,
      mapping: Map[String, String], filterList: Seq[String]): DataFrame =
    applyFilter(applyMapping(
      enrich(cleanExport(raw).localCheckpoint(), fetched), mapping),
      filterList)

  /** SPARQL `p{lo,hi}` bounded-REPETITION pairs: every (src, dst)
    * connected by SOME path of length k with lo ≤ k ≤ hi — the
    * exists-a-path-of-each-length semantics, which MIN-HOP reach
    * ([[reachable]]) cannot answer for lo > 1: on a diamond a pair
    * with min-hop 1 may or may not also have a length-2 path.
    * Computed by relation composition: R¹ = E, Rᵏ = Rᵏ⁻¹ ∘ E with a
    * per-level set-dedup (pairs, not paths — the composition stays
    * bounded by |V|² even through cycles), union of the in-range
    * levels. hi is REQUIRED small (the parser caps it): each level
    * is one equi-join + one dedup exchange, and an unbounded request
    * is `p+`'s fixpoint, not this ladder. */
  def pathBounded(edges: DataFrame, lo: Int, hi: Int): DataFrame = {
    require(lo >= 1 && hi >= lo,
      s"pathBounded: need 1 <= lo <= hi, got {$lo,$hi}")
    val e1 = edges.select(col("src"), col("dst")).distinct()
    var rk = e1
    var acc: DataFrame = if (lo <= 1) rk else null
    var k = 2
    while (k <= hi) {
      rk = rk.join(
          e1.select(col("src").as("_mid"), col("dst").as("_nxt")),
          col("dst") === col("_mid"))
        .select(col("src"), col("_nxt").as("dst"))
        .distinct()
      if (k >= lo) acc = if (acc == null) rk else acc.union(rk)
      k += 1
    }
    acc.distinct()
  }
}
