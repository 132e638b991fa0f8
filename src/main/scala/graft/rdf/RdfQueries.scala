package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixpoint
import graft.functions.IriUtil
import Vocab._

/** Oracle-checked queries for the reference's RDF operators
  * (SURVEY.md §2, O4–O19). Inputs come from [[TripleFixture]] —
  * deterministic derivations of the driver's `part` table — so Spark
  * and the DuckDB oracle see byte-identical triples.
  */
object RdfQueries {

  /** A.2 config fixture (FIXTURES.md): MAP_DCTERMS_TITLE=SDO.name. */
  val mapping: Map[String, String] = Map(DctermsTitle -> SdoName)

  /** A.2 config fixture: the CI workflow's three FILTER vars
    * (reference: .github/workflows/muurschilderingendatabase-etl.yml:58–60). */
  val filterList: Seq[String] =
    Seq(OmekaIsPublic, OmekaResourceClass, OmekaResourceTemplate)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rdf_clean_export" -> ((s, d) => RdfOps.cleanExport(tri(s, d))),
    "rdf_apply_mapping" -> ((s, d) => RdfOps.applyMapping(tri(s, d), mapping)),
    "rdf_apply_filter" -> ((s, d) => RdfOps.applyFilter(tri(s, d), filterList)),
    "rdf_union_dedup" -> ((s, d) =>
      RdfOps.unionDedup(tri(s, d), TripleFixture.enrichment(s, d))),
    "rdf_enrich_keys" -> ((s, d) => RdfOps.enrichmentKeys(tri(s, d))),
    "rdf_enrich_sameas" -> ((s, d) =>
      RdfOps.enrich(tri(s, d), TripleFixture.enrichment(s, d))),
    "rdf_counts" -> ((s, d) => counts(s, d)),
    "rdf_pipeline_e2e" -> ((s, d) => RdfOps.pipeline(tri(s, d),
      TripleFixture.enrichment(s, d), mapping, filterList)),
    // O9→O3 round-trip: serialize the fixture to Turtle documents and
    // parse them back; the oracle (SELECT DISTINCT * FROM triples)
    // makes lossless-ness of the codec itself oracle-checked.
    "rdf_turtle_roundtrip" -> ((s, d) =>
      Turtle.parse(Turtle.serializeDocuments(tri(s, d)))),
    // Single-FILE scale parse: the fixture serialized to ONE Turtle
    // file on disk, re-parsed through the chunked byte-range path
    // (DFA state composition + boundary resync, [[TurtleChunked]])
    // at a chunk size that forces tens of chunks — same oracle as
    // the roundtrip, so boundary tiling is what the hash proves.
    "rdf_turtle_chunked" -> ((s, d) => turtleChunkedQ(s, d)),
    // Cleaning audit: the triples O4-O7 removed (raw EXCEPT clean) —
    // the provenance view an operator checks before publishing.
    // except() is EXCEPT DISTINCT and treats NULLs as equal in both
    // engines (unlike a join-based anti on nullable columns).
    "rdf_removed_by_clean" -> ((s, d) =>
      tri(s, d).except(RdfOps.cleanExport(tri(s, d)))),
    // Multi-graph analytics: the reference publishes into ONE named
    // graph per run (yml:87), so a store accumulates many graphs —
    // per-graph profiling and cross-graph diffing are the first
    // queries an operator runs against it. Fixture: the export
    // re-tagged across three deterministic named graphs plus the
    // enrichment batch as its own graph (TriG's data model).
    "rdf_graph_stats" -> ((s, d) => graphStats(s, d)),
    "rdf_graph_overlap" -> ((s, d) => graphOverlap(s, d)),
    // SPARQL-parity queries over the triple store: a basic graph
    // pattern (star join) and a property path (recursive closure) —
    // the two query shapes an RDF engine must answer beyond the
    // reference's single-pattern scans.
    "rdf_bgp_star" -> ((s, d) => bgpStar(s, d)),
    "rdf_bgp_optional" -> ((s, d) => bgpOptional(s, d)),
    "rdf_reachable" -> ((s, d) => reachableQ(s, d)),
    // Unbounded `p*`: run-to-fixpoint semi-naive closure (no hop
    // cap) + SPARQL's zero-length self rows, over a doubling graph
    // with real cycles (see starEdges).
    "rdf_reachable_star" -> ((s, d) => reachableStarQ(s, d)),
    // Solution-modifier fills: VALUES inline data (a broadcast
    // literal relation joined into the BGP) and the GROUP BY
    // aggregate query form — the last two SPARQL surface areas not
    // yet exercised as query forms.
    "rdf_values_join" -> ((s, d) => valuesJoin(s, d)),
    "rdf_group_agg" -> ((s, d) => groupAgg(s, d)),
    "rdf_group_concat" -> ((s, d) => groupConcat(s, d)),
    // Path COMPOSITION forms: sequence (p/q), alternation (p|q),
    // inverse (^p) — with rdf_reachable/rdf_reachable_star these
    // complete the SPARQL 1.1 property-path operator family the
    // engine answers as queries.
    // Bounded REPETITION p{lo,hi}: exists-a-path-of-each-length by
    // relation composition — the quantifier min-hop reach cannot
    // answer for lo > 1 (see RdfOps.pathBounded). Run over the
    // doubling graph (real diamonds + cycles: 4→16→64→4), so pairs
    // whose ONLY in-range witness is a longer-than-min path are
    // genuinely present.
    "rdf_path_bounded" -> ((s, d) =>
      RdfOps.pathBounded(starEdges(s, d), 2, 3)),
    "rdf_path_seq" -> ((s, d) => pathSeq(s, d)),
    "rdf_path_alt" -> ((s, d) => pathAlt(s, d)),
    "rdf_path_inv" -> ((s, d) => pathInv(s, d)),
    "rdf_path_opt" -> ((s, d) => pathOpt(s, d)),
    "rdf_path_nps" -> ((s, d) => pathNps(s, d)),
    // COMPOSED paths: the operators above compose — alternation
    // UNDER closure ((p1|p2)+ = one fixpoint over the union edge
    // set), inverse UNDER closure ((^p)+ = ^(p+) = the same forward
    // walk over a projection-swapped scan), and sequence INTO
    // closure (p1/p2+ = the closure seeded by step-1's objects).
    // Oracles are independent WITH RECURSIVE recursions.
    "rdf_path_alt_plus" -> ((s, d) => pathAltPlus(s, d)),
    "rdf_path_inv_plus" -> ((s, d) => pathInvPlus(s, d)),
    "rdf_path_seq_plus" -> ((s, d) => pathSeqPlus(s, d)),
    // Incremental closure maintenance: the ENGINE answers from the
    // stored base closure + the delta walk; the ORACLE recomputes
    // the union graph's closure from scratch — a green row proves
    // incremental == full recompute.
    "rdf_reachable_incr" -> ((s, d) => reachableIncrQ(s, d)),
    // CONSTRUCT, ASK and DESCRIBE complete the SPARQL query-form
    // family (SELECT = the BGPs above, paths = rdf_reachable);
    // MINUS covers the negation pattern.
    "rdf_construct" -> ((s, d) => construct(s, d)),
    "rdf_ask" -> ((s, d) => ask(s, d)),
    "rdf_describe" -> ((s, d) => describe(s, d)),
    "rdf_bgp_minus" -> ((s, d) => bgpMinus(s, d)),
    // Week-N vs week-N+1 export diff: the incremental view of the
    // reference's weekly overwrite-publish (yml:87).
    "rdf_snapshot_diff" -> ((s, d) => snapshotDiff(s, d)),
    // Incremental enrichment: fetch only keys NOT already covered by
    // the stored enrichment snapshot (the reference re-fetches every
    // key every week — transform_datamodel.py:88–101).
    "rdf_enrich_delta" -> ((s, d) => enrichDelta(s, d)),
    // TTL-aware fetch list: delta PLUS the stored keys whose last
    // fetch exceeds the weekly cadence — restores the reference's
    // everything-refreshes-weekly freshness contract that the pure
    // anti-join delta silently dropped.
    "rdf_enrich_stale" -> ((s, d) => enrichStale(s, d)),
    // SPARQL 1.1 expression layer: BIND + the string-function family
    // (UCASE/STRLEN/REPLACE/SUBSTR) with a langMatches filter — pure
    // map-side projection, no exchange at any scale.
    "rdf_bind_strfuns" -> ((s, d) => bindStrFuns(s, d)),
    // Term introspection (isIRI/isLiteral/lang()/datatype()) as a
    // store-profile aggregate: the vocabulary census an operator
    // runs before schema mapping.
    "rdf_term_stats" -> ((s, d) => termStats(s, d)),
    // HAVING — the post-aggregate filter form (completes the GROUP
    // BY family): brands holding more than one typed item.
    "rdf_group_having" -> ((s, d) => groupHaving(s, d)),
    // Iterative graph analytics over the triple-derived link graph:
    // 3 PageRank iterations in exact integer arithmetic (both
    // engines replay the identical division sequence), the
    // one-shuffle-per-iteration Pregel shape.
    "rdf_pagerank" -> ((s, d) => pagerank(s, d)),
    // Run-to-convergence PageRank with dangling-mass redistribution;
    // the oracle replays a fixed PrcCap-step recurrence (identical
    // past the fixpoint — see pagerankConverged's doc).
    "rdf_pagerank_converged" -> ((s, d) => pagerankConverged(s, d)),
    "rdf_pagerank_incr" -> ((s, d) => pagerankIncr(s, d)),
    // SPARQL 1.1 subquery + ORDER BY/LIMIT solution modifiers:
    // top-N subjects by triple count, titles joined back on top of
    // the inner aggregate — the bounded top-k shape
    // (TakeOrderedAndProject), never a full sort.
    "rdf_subquery_topn" -> ((s, d) => subqueryTopN(s, d)),
    // The TEXT front-end ([[SparqlSelect]]): a query STRING parsed
    // and compiled into the same star-pivot shape the hand-built
    // forms use — prefixes, ';' predicate lists, OPTIONAL, FILTER
    // all exercised. SparqlSelectSpec proves plan-identity with the
    // hand-built twins via sameResult.
    "rdf_sparql_select" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlSelectQuery)),
    // Round-12 front-end productions — each string compiles into the
    // hand-built shape its doc names (plan identity proven by
    // SparqlSelectSpec; these rows prove end-to-end correctness
    // independently).
    "rdf_sparql_union" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlUnionQuery)),
    "rdf_sparql_union_het" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlUnionHetQuery)),
    "rdf_sparql_agg" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlAggQuery)),
    "rdf_sparql_path" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathQuery)),
    "rdf_sparql_path_inv" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathInvQuery)),
    "rdf_sparql_path_plus" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathPlusQuery,
        relClosureProvider(s, d))),
    "rdf_sparql_path_bounded" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathBoundedQuery)),
    "rdf_sparql_text_filters" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlTextFiltersQuery)),
    "rdf_sparql_values" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlValuesQuery)),
    "rdf_sparql_bind" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlBindQuery)),
    "rdf_sparql_subquery" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlSubqueryQuery)),
    "rdf_sparql_pred_agg" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPredAggQuery)),
    // the other three SPARQL query FORMS through the text front-end
    "rdf_sparql_ask" -> ((s, d) =>
      SparqlSelect.queryForm(tri(s, d), sparqlAskQuery)),
    "rdf_sparql_construct" -> ((s, d) =>
      SparqlSelect.queryForm(tri(s, d), sparqlConstructQuery)),
    "rdf_sparql_describe" -> ((s, d) =>
      SparqlSelect.queryForm(tri(s, d), sparqlDescribeQuery)),
    "rdf_sparql_minus" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlMinusQuery)),
    // GRAPH over the multi-graph store — the graph var binds the
    // graph column; one exchange on the 4-graph key
    "rdf_sparql_graph" -> ((s, d) =>
      SparqlSelect(multiGraph(s, d), sparqlGraphQuery)),
    "rdf_sparql_path_opt" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathOptQuery)),
    // entity smushing: the post-enrichment consolidation of the
    // reference's sameAs output (O14's key rule IS the identity)
    "rdf_smush_entities" -> ((s, d) => smushEntities(s, d)),
    // RDFS subClassOf entailment: vocabulary-sized closure broadcast
    // into a map-side instance expansion — inference at corpus scale
    // without shuffling the corpus.
    "rdf_rdfs_types" -> ((s, d) => rdfsTypes(s, d)),
    // Full ρdf entailment (sp⁺/dom/range/sc⁺) as a stratified
    // broadcast-join DAG; one exchange total (the final set dedup).
    // Reads the MEMOIZED entailed-graph artifact (the materialize-
    // once-query-many discipline the operator itself preaches) — the
    // first payer builds, every later rep reads.
    "rdf_rdfs_entail" -> ((s, d) => entailedGraph(s, d)
      .select(col("subject"), col("predicate"),
        col("obj_value").as("obj"))),
    // incremental rung: arriving instance shard entailed against the
    // stable (memoized) ontology closures — exact because no ρdf
    // rule joins two instance triples.
    "rdf_rdfs_incremental" -> ((s, d) => rdfsEntailIncremental(s, d)),
    // the text front-end querying UNDER entailment: a SPARQL string
    // against the materialized inferred graph — query-by-superclass
    // actually works.
    "rdf_sparql_entailed" -> ((s, d) =>
      SparqlSelect(entailedGraph(s, d), sparqlEntailedQuery)),
    "rdf_sparql_exists" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlExistsQuery)),
    // round-12 second batch: negated property sets, COUNT(DISTINCT)
    // + SAMPLE, BOUND/!BOUND, SUBSTR/STRAFTER/STRENDS, COALESCE
    "rdf_sparql_negpath" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlNegPathQuery)),
    "rdf_sparql_distinct_agg" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlDistinctAggQuery)),
    "rdf_sparql_bound" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlBoundQuery)),
    "rdf_sparql_strfuns" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlStrFunsQuery)),
    "rdf_sparql_coalesce" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlCoalesceQuery)),
    "rdf_sparql_arith" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlArithQuery)),
    // round-13: AVG in exact milli-units, mixed/parenthesized
    // precedence, OPTIONAL inside UNION — round-12's declared
    // rejections, lifted
    "rdf_sparql_avg" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlAvgQuery)),
    "rdf_sparql_arith_paren" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlArithParenQuery)),
    "rdf_sparql_union_opt" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlUnionOptQuery)),
    "rdf_sparql_negpath_inv" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlNegPathInvQuery)),
    // round-14: mixed negated sets per §18.2.2.5's two-scan union
    "rdf_sparql_negpath_mixed" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlNegPathMixedQuery)),
    "rdf_sparql_from" -> ((s, d) =>
      SparqlSelect(multiGraph(s, d), sparqlFromQuery)),
    "rdf_sparql_from_named" -> ((s, d) =>
      SparqlSelect(multiGraph(s, d), sparqlFromNamedQuery)),
    "rdf_sparql_if_in" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlIfInQuery)),
    "rdf_sparql_termfns" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlTermFnsQuery)),
    "rdf_sparql_iskind" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlIsKindQuery)),
    "rdf_sparql_disjunction" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlDisjunctionQuery)),
    "rdf_sparql_varcmp" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlVarCmpQuery)),
    "rdf_sparql_seq_closure" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlSeqClosureQuery,
        relClosureProvider(s, d))),
    "rdf_sparql_path_star" -> ((s, d) =>
      SparqlSelect(tri(s, d), sparqlPathStarQuery,
        relClosureProvider(s, d))),
    // SPARQL UPDATE — the rdflib graph.update() surface; O17/O18 as
    // the DELETE/INSERT WHERE special cases (transform:112–127)
    "rdf_update_rename" -> ((s, d) =>
      SparqlSelect.update(tri(s, d), sparqlUpdateRenameQuery)),
    "rdf_update_delete_where" -> ((s, d) =>
      SparqlSelect.update(tri(s, d), sparqlUpdateDeleteQuery)),
    "rdf_update_insert_data" -> ((s, d) =>
      SparqlSelect.update(tri(s, d), sparqlUpdateInsertQuery)),
    // SPARQL 1.1 UPDATE graph management over the multi-graph store
    // — pure graph-column algebra (filter / filter ∪ relabelled copy
    // + the set dedup that IS per-graph set semantics)
    "rdf_update_clear_graph" -> ((s, d) =>
      SparqlSelect.update(multiGraph(s, d),
        "CLEAR GRAPH <http://ex.org/graph/1>")),
    "rdf_update_copy_graph" -> ((s, d) =>
      SparqlSelect.update(multiGraph(s, d),
        "COPY GRAPH <http://ex.org/graph/0> TO <http://ex.org/graph/2>")),
    "rdf_update_move_graph" -> ((s, d) =>
      SparqlSelect.update(multiGraph(s, d),
        "MOVE GRAPH <http://ex.org/graph/enrich> " +
          "TO GRAPH <http://ex.org/graph/0>")),
    "rdf_update_add_graph" -> ((s, d) =>
      SparqlSelect.update(multiGraph(s, d),
        "ADD GRAPH <http://ex.org/graph/1> " +
          "TO GRAPH <http://ex.org/graph/enrich>")),
  )

  /** The canonical front-end query for `rdf_sparql_select` — the
    * star + OPTIONAL + numeric-FILTER shape, as a STRING. */
  /** Query-by-superclass under entailment: per-class instance
    * census over the MATERIALIZED inferred graph — the question
    * ("how many instances does each class have, counting
    * subclasses?") that motivates running entailment at all. */
  val sparqlEntailedQuery: String =
    """PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
      |SELECT ?c (COUNT(?s) AS ?n)
      |WHERE { ?s rdf:type ?c . }
      |GROUP BY ?c""".stripMargin

  val sparqlSelectQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?title ?template ?part_size
      |WHERE {
      |  ?item a ceo:Rijksmonument ;
      |        dcterms:title ?title ;
      |        def:size ?part_size .
      |  OPTIONAL { ?item o:resource_template ?template }
      |  FILTER(?part_size >= 10)
      |}""".stripMargin

  /** UNION whose branches differ only in the predicate constant —
    * compiles to ONE `isin` scan ([[pathAlt]]'s documented shape:
    * "never a union of per-predicate scans"). */
  val sparqlUnionQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?value
      |WHERE {
      |  { ?item dcterms:title ?value } UNION { ?item def:brand ?value }
      |}""".stripMargin

  /** Heterogeneous UNION — branches bind different variables, so the
    * general form applies: per-branch scans unioned with typed null
    * padding (SPARQL's UNION multiset semantics). */
  val sparqlUnionHetQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?title ?brand
      |WHERE {
      |  { ?item dcterms:title ?title } UNION { ?item def:brand ?brand }
      |}""".stripMargin

  /** GROUP BY + aggregates — compiles to [[groupAgg]]'s exact shape:
    * brand scan, broadcast semi against the distinct typed set, ONE
    * exchange on the brand key with map-side partial aggregation. */
  val sparqlAggQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?brand (COUNT(*) AS ?n_items) (MIN(?item) AS ?first_item)
      |WHERE { ?item def:brand ?brand . ?item a ceo:Rijksmonument . }
      |GROUP BY ?brand""".stripMargin

  /** Sequence path `p1/p2` — desugars to a hidden intermediate
    * variable and one equi-join on it ([[pathSeq]]'s shape). */
  val sparqlPathQuery: String =
    """SELECT ?src ?title
      |WHERE { ?src dcterms:relation/dcterms:title ?title . }""".stripMargin

  /** Inverse path `^p` + type membership — the endpoint swap (no
    * reversed edge set materialized) and the broadcast semi against
    * the typed dimension set ([[pathInv]]'s shape). */
  val sparqlPathInvQuery: String =
    """SELECT ?item ?pointer
      |WHERE { ?item ^dcterms:relation ?pointer .
      |        ?item a ceo:Rijksmonument . }""".stripMargin

  /** Closure path `p+` — served by the stored [[relationClosure]]
    * artifact (the pair closure [[RdfOps.reachablePlusPairs]] builds
    * over the IRI-object relation edge scan, seeded from every edge
    * source). */
  val sparqlPathPlusQuery: String =
    """SELECT ?src ?dst
      |WHERE { ?src dcterms:relation+ ?dst . }""".stripMargin

  /** Bounded repetition through the text front-end — lo = 2 makes
    * min-hop reach the WRONG answer (direct neighbors without a
    * longer witness must drop out), so the parse must route to the
    * composition ladder, not the closure. */
  val sparqlPathBoundedQuery: String =
    """SELECT ?src ?dst
      |WHERE { ?src dcterms:relation{2,4} ?dst . }""".stripMargin

  /** Text filters + paging — LANGMATCHES pushes into the scan (the
    * [[bindStrFuns]] discipline), REGEX/CONTAINS are codegen'd
    * string predicates, and ORDER BY + OFFSET + LIMIT plans as ONE
    * bounded top-(offset+limit) heap. */
  val sparqlTextFiltersQuery: String =
    """SELECT ?item ?title
      |WHERE { ?item dcterms:title ?title .
      |        FILTER(langMatches(lang(?title), "nl"))
      |        FILTER(CONTAINS(?title, "a"))
      |        FILTER(regex(?title, "^[a-z]")) }
      |ORDER BY ?item ?title LIMIT 50 OFFSET 10""".stripMargin

  /** VALUES inline data — compiles to [[valuesJoin]]'s exact shape:
    * the driver-local inline relation broadcast-joins into the
    * binding scan BEFORE the title join, so the triple scan never
    * shuffles for inline data. */
  val sparqlValuesQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?brand ?title
      |WHERE {
      |  VALUES ?brand { "Brand#13" "Brand#32" "Brand#55" }
      |  ?item def:brand ?brand .
      |  ?item dcterms:title ?title .
      |}""".stripMargin

  /** BIND string functions — compiles to [[bindStrFuns]]'s shape:
    * every BIND a codegen'd scalar projection, both FILTERs
    * scan-pushable, the whole query one map-side pass with zero
    * exchanges at any corpus size. */
  val sparqlBindQuery: String =
    """SELECT ?item ?title ?title_uc ?title_len ?slug
      |WHERE { ?item dcterms:title ?title .
      |        FILTER(LANGMATCHES(LANG(?title), "nl"))
      |        BIND(UCASE(?title) AS ?title_uc)
      |        BIND(STRLEN(?title) AS ?title_len)
      |        BIND(REPLACE(?title, " ", "_") AS ?slug)
      |        FILTER(?title_len >= 10) }""".stripMargin

  /** `{ SELECT ... }` subquery — the [[subqueryTopN]] shape through
    * the text front-end: the inner aggregate + ORDER BY/LIMIT plans
    * as a bounded TakeOrderedAndProject top-5 driving table; the
    * OPTIONAL title attaches by left join (AQE broadcasts the 5-row
    * side). `?item ?p ?o` is a VARIABLE-predicate full scan — the
    * unused bindings prune away under column pruning. Exact SPARQL
    * multiset semantics on the OPTIONAL (no MIN collapse — the
    * oracle replays the plain left join). */
  val sparqlSubqueryQuery: String =
    """SELECT ?item ?n_triples ?title
      |WHERE {
      |  { SELECT ?item (COUNT(*) AS ?n_triples) WHERE { ?item ?p ?o . }
      |    GROUP BY ?item ORDER BY DESC(?n_triples) ASC(?item) LIMIT 5 }
      |  OPTIONAL { ?item dcterms:title ?title }
      |}""".stripMargin

  /** Variable-predicate census — `?s ?p ?o` binds the predicate
    * column; ONE exchange on the vocabulary-scale predicate key with
    * map-side partial aggregation (subject/object prune away). */
  val sparqlPredAggQuery: String =
    """SELECT ?p (COUNT(*) AS ?n)
      |WHERE { ?s ?p ?o . }
      |GROUP BY ?p""".stripMargin

  /** ASK form — existence bounded by LIMIT 1 before the boolean
    * aggregate (never a full count); the membership pattern compiles
    * into the one-exchange pivot's flag test. */
  val sparqlAskQuery: String =
    """ASK { ?item ceo:rijksmonumentnummer ?m .
      |      ?item o:is_public "true" . }""".stripMargin

  /** CONSTRUCT form — the [[construct]] derive-and-assert shape
    * (O16's sameAs derivation) through the text front-end; the
    * object's kind/lang/datatype come from the BINDING triple
    * (threaded metadata), so the output graph is publishable. */
  val sparqlConstructQuery: String =
    """CONSTRUCT { ?item sdo:sameAs ?m . }
      |WHERE { ?item a ceo:Rijksmonument ;
      |              ceo:rijksmonumentnummer ?m . }""".stripMargin

  /** DESCRIBE form — every triple about the matched resources; the
    * final semi-join is hint-free ([[describe]]'s discipline: AQE
    * broadcasts a selective match set). */
  val sparqlDescribeQuery: String =
    """DESCRIBE ?item
      |WHERE { ?item ceo:rijksmonumentnummer ?m .
      |        ?item o:is_public "true" . }""".stripMargin

  /** MINUS — the negation pattern through the front-end: typed
    * subjects WITHOUT a resource template (the untemplated-records
    * worklist [[bgpMinus]] maintains), compiled as a left-anti join
    * on the shared variable. */
  val sparqlMinusQuery: String =
    """SELECT ?item
      |WHERE { ?item a ceo:Rijksmonument .
      |        MINUS { ?item o:resource_template ?tpl . } }""".stripMargin

  /** `p*` — unbounded closure plus zero-length self rows for every
    * node incident to a relation edge (the documented narrowing of
    * SPARQL's all-terms zero-length rule). */
  val sparqlPathStarQuery: String =
    """SELECT ?src ?dst
      |WHERE { ?src dcterms:relation* ?dst . }""".stripMargin

  /** `p?` — zero-or-one: edges plus the incident-node self rows, no
    * iteration (the front-end sibling of the seed-scoped
    * [[pathOpt]]). */
  val sparqlPathOptQuery: String =
    """SELECT ?src ?dst
      |WHERE { ?src dcterms:relation? ?dst . }""".stripMargin

  /** FILTER NOT EXISTS (anti-join on shared vars) + an OPTIONAL
    * block with its OWN filter (constrains the optional side before
    * the left join — a failing filter unbinds, never drops the
    * outer row). */
  val sparqlExistsQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?title ?size
      |WHERE { ?item dcterms:title ?title .
      |        FILTER NOT EXISTS { ?item o:resource_template ?tpl . }
      |        OPTIONAL { ?item def:size ?size . FILTER(?size >= 30) } }"""
      .stripMargin

  /** Negated property set `!(p1|...)` — every edge whose predicate
    * is NOT in the set, scoped to typed items (the type pattern
    * compiles to the broadcast-semi membership shape; the negated
    * scan is one NOT-isin filter, never a union of per-predicate
    * scans' complement). */
  val sparqlNegPathQuery: String =
    """SELECT ?item ?value
      |WHERE {
      |  ?item a ceo:Rijksmonument .
      |  ?item !(a|dcterms:title|dcterms:relation|o:is_public) ?value .
      |}""".stripMargin

  /** INVERTED negated property set `^!(...)` — the round-12
    * rejection, lifted: desugars to the endpoint-swapped negated
    * scan (`?v ^!S ?item` ≡ `?item !S ?v`), so it costs exactly
    * what the forward form costs — one NOT-isin scan, no reversed
    * edge set. */
  val sparqlNegPathInvQuery: String =
    """SELECT ?item ?value
      |WHERE {
      |  ?item a ceo:Rijksmonument .
      |  ?value ^!(a|dcterms:title|dcterms:relation|o:is_public) ?item .
      |}""".stripMargin

  /** MIXED negated property set `!(p…|^q…)` — the round-13
    * rejection, lifted per §18.2.2.5's own translation
    * (`!(P|^Q)` ≡ `!(P) | !(^Q)`): the forward NPS scan UNIONed
    * with the endpoint-swapped NPS scan of the inverse half,
    * multiset semantics. Forward half here keeps title / relation /
    * rijksmonumentnummer edges out of typed items; the inverse half
    * keeps every non-title edge INTO them (the fixture's relation
    * edges). */
  val sparqlNegPathMixedQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?value
      |WHERE {
      |  ?item a ceo:Rijksmonument .
      |  ?item !(a|def:brand|def:size|o:is_public|o:resource_template|o:resource_class|^dcterms:title) ?value .
      |}""".stripMargin

  /** COUNT(DISTINCT) + SAMPLE — SAMPLE is implementation-defined
    * per SPARQL 1.1 §18.5.1.7; this engine pins it to MIN so the
    * result is deterministic and oracle-replayable. */
  val sparqlDistinctAggQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?brand (COUNT(DISTINCT ?tpl) AS ?n_templates)
      |       (SAMPLE(?item) AS ?an_item)
      |WHERE { ?item def:brand ?brand ; o:resource_template ?tpl . }
      |GROUP BY ?brand""".stripMargin

  /** `FILTER(!BOUND(?v))` over an OPTIONAL — the pre-1.1 negation
    * idiom; compiles into the star pivot (the optional binding is a
    * conditional aggregate, the filter its post-agg null check). */
  val sparqlBoundQuery: String =
    """SELECT ?item ?title
      |WHERE {
      |  ?item a ceo:Rijksmonument ;
      |        dcterms:title ?title .
      |  OPTIONAL { ?item o:resource_template ?tpl }
      |  FILTER(!BOUND(?tpl))
      |}""".stripMargin

  /** SUBSTR / STRAFTER / STRENDS — the string-function round-out;
    * all codegen'd scalar projections, zero exchanges added. */
  val sparqlStrFunsQuery: String =
    """SELECT ?item ?pre ?tail
      |WHERE {
      |  ?item dcterms:title ?title .
      |  BIND(SUBSTR(?title, 1, 3) AS ?pre)
      |  BIND(STRAFTER(?title, "a") AS ?tail)
      |  FILTER(STRENDS(?title, "t"))
      |}""".stripMargin

  /** COALESCE over an OPTIONAL binding — the default-value idiom. */
  val sparqlCoalesceQuery: String =
    """SELECT ?item ?label
      |WHERE {
      |  ?item a ceo:Rijksmonument .
      |  OPTIONAL { ?item o:resource_template ?tpl }
      |  BIND(COALESCE(?tpl, "no-template") AS ?label)
      |}""".stripMargin

  /** Integer arithmetic in BIND — a zero-exchange codegen projection
    * in BIGINT over the numeric binding. */
  val sparqlArithQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?scaled
      |WHERE {
      |  ?item def:size ?sz .
      |  BIND(?sz * 3 + 7 AS ?scaled)
      |  FILTER(?sz >= 10)
      |}""".stripMargin

  /** `AVG` — declared EXACT semantics: ×1000 integer floor-div
    * (milli-units), never a float, so the row is deterministic and
    * oracle-hashable (the BM25 scaled-rational discipline; SPARQL
    * 1.1 `AVG` itself is xsd:decimal — the scale is this engine's
    * documented exact spelling of it). */
  val sparqlAvgQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?brand (AVG(?sz) AS ?avg_size_x1000) (COUNT(*) AS ?n_items)
      |WHERE { ?item def:brand ?brand . ?item def:size ?sz . }
      |GROUP BY ?brand""".stripMargin

  /** Mixed-precedence and parenthesized BIND arithmetic — the
    * round-12 front-end rejection, lifted: `*` binds tighter than
    * `+`, parentheses override. */
  val sparqlArithParenQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?a ?b
      |WHERE {
      |  ?item def:size ?sz .
      |  BIND((?sz + 1) * 2 AS ?a)
      |  BIND(?sz + 1 * 2 AS ?b)
      |}""".stripMargin

  /** `FROM` dataset clause (§13.2) over the multi-graph store: the
    * explicit default graph is the MERGE of the two listed graphs —
    * unscoped patterns must match only them (graph /1 and /enrich
    * rows fall out). Compiles to an `isin` graph filter pushed into
    * every pattern scan (partition-prunes a graph-partitioned
    * store). */
  val sparqlFromQuery: String =
    """SELECT ?s ?t
      |FROM <http://ex.org/graph/0>
      |FROM <http://ex.org/graph/2>
      |WHERE { ?s dcterms:title ?t . }""".stripMargin

  /** `FROM NAMED` (§13.2): GRAPH ?g ranges only over the explicit
    * named-graph set — graph /0 and /2 rows fall out of the census
    * even though the store holds them. */
  val sparqlFromNamedQuery: String =
    """SELECT ?g (COUNT(*) AS ?n)
      |FROM NAMED <http://ex.org/graph/1>
      |FROM NAMED <http://ex.org/graph/enrich>
      |WHERE { GRAPH ?g { ?s ?p ?o . } }
      |GROUP BY ?g""".stripMargin

  /** OPTIONAL inside a UNION branch — the round-12 front-end
    * rejection, lifted: branch 1 LEFT-joins the template onto
    * titles (multiset semantics), branch 2 is a plain brand scan;
    * branch-local vars null-pad across the union
    * ([[SparqlSelect]]'s compileUnion). */
  val sparqlUnionOptQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?title ?tpl ?brand
      |WHERE {
      |  { ?item dcterms:title ?title .
      |    OPTIONAL { ?item o:resource_template ?tpl } }
      |  UNION
      |  { ?item def:brand ?brand }
      |}""".stripMargin

  /** `IN` membership (ONE isin scan) + `IF` conditional binding. */
  val sparqlIfInQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?b ?bucket
      |WHERE {
      |  ?item def:brand ?b .
      |  FILTER(?b IN ("Brand#4", "Brand#19"))
      |  BIND(IF(?b = "Brand#4", "flag", "other") AS ?bucket)
      |}""".stripMargin

  /** STR / LANG / DATATYPE term accessors over a variable-predicate
    * scan — the full §17.4.2 literal-metadata rules, incl. the
    * xsd:string / rdf:langString defaults and the error-→-unbound
    * behavior on IRIs. */
  val sparqlTermFnsQuery: String =
    """SELECT ?item ?p ?sv ?lg ?dt
      |WHERE {
      |  ?item ?p ?o .
      |  BIND(STR(?o) AS ?sv)
      |  BIND(LANG(?o) AS ?lg)
      |  BIND(DATATYPE(?o) AS ?dt)
      |}""".stripMargin

  /** ISLITERAL over a variable-predicate scan — the term-kind test
    * pushed into the binding scan (a selective obj_kind filter, not
    * a post-hoc value predicate). */
  val sparqlIsKindQuery: String =
    """SELECT ?item ?o
      |WHERE {
      |  ?item ?p ?o .
      |  FILTER(ISLITERAL(?o))
      |}""".stripMargin

  /** FILTER disjunction across different variables — Spark's
    * three-valued OR is SPARQL's error-tolerant `||`, and the
    * numeric alternative still coerces its variable at the scan. */
  val sparqlDisjunctionQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?item ?b ?sz
      |WHERE {
      |  ?item def:brand ?b ;
      |        def:size ?sz .
      |  FILTER(?b = "Brand#4" || ?sz >= 45)
      |}""".stripMargin

  /** Var-var comparison driving a self-join: same-brand item pairs.
    * Declared as a product + equality FILTER; the optimizer is
    * expected to turn it into an equi-join on the brand value
    * (spec-asserted: no cartesian product in the plan). */
  val sparqlVarCmpQuery: String =
    """PREFIX def: <http://ex.org/def#>
      |SELECT ?i1 ?i2
      |WHERE {
      |  ?i1 def:brand ?b1 .
      |  ?i2 def:brand ?b2 .
      |  FILTER(?b1 = ?b2)
      |  FILTER(?i1 < ?i2)
      |}""".stripMargin

  /** Grouped-sequence closure `(p1/p2)+` — the fixpoint over the
    * COMPOSED edge set (relation∘relation = the two-hop graph), the
    * one path form where parentheses change semantics rather than
    * merely grouping: reachability in an even number of relation
    * steps ≥ 2. */
  val sparqlSeqClosureQuery: String =
    """SELECT ?src ?dst
      |WHERE { ?src (dcterms:relation/dcterms:relation)+ ?dst . }"""
      .stripMargin

  /** GRAPH block with a graph VARIABLE — per-named-graph title
    * census over the multi-graph store ([[multiGraph]]). */
  val sparqlGraphQuery: String =
    """SELECT ?g (COUNT(*) AS ?n)
      |WHERE { GRAPH ?g { ?s dcterms:title ?t . } }
      |GROUP BY ?g""".stripMargin

  /** O17 (predicate rename) as SPARQL UPDATE — the general form of
    * the reference's remove/add loop (transform:112–119): delete the
    * matched triples, re-assert under the target predicate, the
    * object's term metadata carried through unchanged. */
  val sparqlUpdateRenameQuery: String =
    """DELETE { ?s dcterms:title ?t . }
      |INSERT { ?s sdo:name ?t . }
      |WHERE { ?s dcterms:title ?t . }""".stripMargin

  /** O18 (predicate delete) as SPARQL UPDATE (transform:121–127). */
  val sparqlUpdateDeleteQuery: String =
    """DELETE WHERE { ?s o:resource_class ?c . }""".stripMargin

  /** Constant assertion — provenance rows a pipeline stamps onto its
    * published graph. */
  val sparqlUpdateInsertQuery: String =
    """INSERT DATA {
      |  <http://ex.org/meta/run> dcterms:identifier "run-12" .
      |  <http://ex.org/meta/run> a <http://ex.org/def#EtlRun> .
      |}""".stripMargin

  private def tri(s: SparkSession, d: String): DataFrame =
    TripleFixture.triples(s, d)

  /** The MATERIALIZED entailed graph in the canonical triple schema
    * — the store a "query under RDFS entailment" regime reads
    * (W3C's entailment-regime semantics realized the warehouse way:
    * materialize once, query many). Memoized per snapshot; every
    * term the rule DAG emits is an IRI. */
  private def entailedGraph(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"rdfs-entailed-graph:$d") {
      // DISK-resident (the SuffixArray bulk-artifact discipline):
      // the deductive closure is corpus-output-scale (~4.5 M rows at
      // sf1) and a memory-first unroll of it DURING its own build
      // OOM'd the capped-heap rehearsal
      Fixpoint.disk(rdfsEntail(s, d).select(
        lit("entail").as("graph"),
        col("subject"), lit("iri").as("subject_kind"),
        col("predicate"),
        col("obj").as("obj_value"), lit("iri").as("obj_kind"),
        lit(null).cast("string").as("obj_lang"),
        lit(null).cast("string").as("obj_datatype")))
    }

  /** owl:sameAs-style entity SMUSHING — canonicalize the enriched
    * graph so every monument RESOURCE merges into its item: the
    * identity signal is the reference's own key (an item's
    * `ceo:rijksmonumentnummer` literal, RM-prefix-normalized — the
    * O14 key rule — names the monument IRI the enrichment asserts
    * facts about), and the smush rewrites both subject AND IRI
    * object positions through the (monument → item) mapping, then
    * set-dedups — merged entities collapse their duplicate
    * assertions (the enrichment's `mon a Rijksmonument` lands on the
    * item that is already typed, and the set absorbs it). This is
    * the post-enrichment consolidation a downstream consumer of the
    * reference's sameAs output actually wants.
    *
    * Scale shape: the mapping is CORPUS-FRACTION sized (one row per
    * rmnr assertion, ~|items|/3 here), so both rewrites are
    * shuffle equi-joins on their natural keys (subject, obj_value) —
    * no broadcast of a corpus-scale side; the final dedup is the
    * standard set-semantics exchange. 1:1 mapping (unique number per
    * item), so the rewrite cannot fan out. */
  private def smushEntities(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val g = t.unionByName(TripleFixture.enrichment(s, d))
    val mapping = t.filter(col("predicate") === CeoRijksmonumentnummer)
      .select(col("subject").as("item"),
        concat(lit(TripleFixture.MonNs),
          when(col("obj_value").startsWith("RM"),
            expr("substring(obj_value, 3)"))
            .otherwise(col("obj_value"))).as("mon"))
      .distinct()
    val bySubj = g
      .join(mapping.select(col("mon").as("subject"), col("item")),
        Seq("subject"), "left")
      .withColumn("subject", coalesce(col("item"), col("subject")))
      .drop("item")
    bySubj
      .join(mapping.select(col("mon").as("obj_value"),
          col("item").as("_oi")),
        Seq("obj_value"), "left")
      .withColumn("obj_value",
        when(col("obj_kind") === "iri",
          coalesce(col("_oi"), col("obj_value")))
          .otherwise(col("obj_value")))
      .drop("_oi")
      .select(col("graph"), col("subject"), col("subject_kind"),
        col("predicate"), col("obj_value"), col("obj_kind"),
        col("obj_lang"), col("obj_datatype"))
      .dropDuplicates()
  }

  /** The NUMERIC chain closure `(v, w)` — the ontology chain walked
    * once over size INTS; both namespaces' string closures are pure
    * renders of this one artifact (the chain structure is identical:
    * `v → v+1` per occurring size), and the entailment rule DAG
    * joins on it directly so the corpus-scale path never touches a
    * URI string until after its final dedup (guide §2.3: shuffle
    * narrow types; the r17 plan shuffled ~90-byte URI triples
    * through the set dedup). */
  private def chainClosureN(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"rdfs-chain-closure-n:$d") {
      val edges = graft.Tables(s, d, "part")
        .select(col("p_size")).distinct()
        .select(col("p_size").as("src"),
          (col("p_size") + 1).as("dst"))
      RdfOps.reachablePlusPairs(edges, edges.select(col("src")).distinct())
    }

  /** The memoized transitive closure of a derived size-chain
    * ontology (`ns{v} ⊑ ns{v+1}` per occurring `p_size`) — shared by
    * [[rdfsTypes]] (class chain) and [[rdfsEntail]] (class AND
    * property chains). Vocabulary-sized: a ≤|sizes|² pair set,
    * closed in log rounds. */
  private def chainClosure(s: SparkSession, d: String,
      ns: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"rdfs-chain-closure:$ns:$d") {
      Fixpoint.ser(chainClosureN(s, d)
        .select(concat(lit(ns), col("src")).as("src"),
          concat(lit(ns), col("dst")).as("dst")))
    }

  /** RDFS `subClassOf` entailment, materialized: every (instance,
    * class) pair derivable from an asserted type plus the ontology's
    * `rdfs:subClassOf` transitive closure — the ρdf core rule
    * `type(x,C) ∧ subClassOf⁺(C,C') ⊢ type(x,C')`, the inference a
    * cultural-heritage consumer of the reference's export runs to
    * query by superclass (reference anchor: rdflib's RDFS namespace
    * import surface, src/transform_datamodel.py:20). The class graph
    * derives from `part` sizes as a DEEP chain (C_v ⊑ C_{v+1} for
    * every occurring size) so the closure is genuinely multi-hop
    * (~50 levels), and instance k types into the chain at its size.
    *
    * Scale shape: the ontology is VOCABULARY-sized (classes, not
    * instances — thousands at most in real KGs), so its transitive
    * closure is a tiny log-depth ladder ([[RdfOps.reachablePlusPairs]],
    * memoized per snapshot like [[relationClosure]]) and
    * BROADCASTS into the instance join — the corpus-scale side never
    * shuffles, making entailment one map-side pass at 100 TB. No
    * dedup pass: the chain is acyclic and each instance asserts one
    * class, so asserted ∪ inferred is duplicate-free by
    * construction. */
  private def rdfsTypes(s: SparkSession, d: String): DataFrame = {
    val item = "http://ex.org/item/"
    val part = graft.Tables(s, d, "part")
      .select(col("p_partkey").as("k"), col("p_size"))
    val asserted = part.select(
      concat(lit(item), col("k")).as("subject"),
      concat(lit(OntoClassNs), col("p_size")).as("cls"))
    val ancestors = chainClosure(s, d, OntoClassNs)
    asserted.unionByName(
      asserted.join(broadcast(ancestors),
          asserted("cls") === ancestors("src"))
        .select(col("subject"), col("dst").as("cls")))
  }

  /** FULL ρdf entailment (the minimal RDFS fragment, Muñoz/Pérez/
    * Gutierrez 2007): `subPropertyOf⁺` predicate generalization,
    * `domain`/`range` type inference, `subClassOf⁺` type expansion —
    * the deductive closure of the instance graph under the four core
    * rules, computed as a STRATIFIED join DAG (no fixpoint over the
    * corpus: close the two vocabulary chains first, then sp-rewrite,
    * then dom/range over the sp-CLOSED triples — so a triple whose
    * generalized predicate carries the domain still infers its type
    * — then sc-expand; set-dedup last, since dom and range can derive
    * the same type assertion through different rules).
    *
    * Ontology derivation (FIXTURES discipline — identical int/string
    * arithmetic in both engines): property chain `P_v ⊑ P_{v+1}` and
    * class chain `C_v ⊑ C_{v+1}` over occurring part sizes;
    * `dom(P_v)=C_v` at v≡0 (mod 5); `range(P_v)=C_{v+1}` at v≡0
    * (mod 7); instance triples `(item_k, P_{size(k)}, item_2k)`.
    *
    * Scale shape: every ontology side (closures, dom, range) is
    * vocabulary-sized and BROADCAST — the corpus-scale triple set
    * flows through map-side joins only; the single exchange is the
    * final set-semantics dedup, which IS the operator's contract. */
  private def rdfsEntail(s: SparkSession, d: String): DataFrame =
    rdfsEntailOf(s, d, lit(true))

  /** The INCREMENTAL rung: entailment of an ARRIVING instance shard
    * against the STABLE ontology (the closures are the memoized
    * per-snapshot artifacts [[chainClosure]] already built). Sound
    * and complete because every ρdf rule is per-instance-triple —
    * no rule joins two instance triples — so the shard's deductive
    * closure is exactly the full closure restricted to shard-derived
    * conclusions: per-batch cost is proportional to the batch, the
    * existing entailment table is never re-derived. The oracle IS
    * the full-corpus rule DAG filtered to the shard — sharing it is
    * the incremental contract (the dedup-family discipline). */
  private def rdfsEntailIncremental(s: SparkSession,
      d: String): DataFrame =
    rdfsEntailOf(s, d, expr(arrivingPartPred))

  private[rdf] val arrivingPartPred = "k % 10 = 7"

  private def rdfsEntailOf(s: SparkSession, d: String,
      instanceFilter: Column): DataFrame = {
    val allPart = graft.Tables(s, d, "part")
      .select(col("p_partkey").as("k"), col("p_size").as("v"))
    // the ontology derives from the FULL vocabulary — only the
    // instance axis is filtered (the incremental semantics).
    // Set semantics on the COMPACT (kind, a, b) rows: the render to
    // URI strings is injective per kind and the two kinds cannot
    // collide (kind-1 predicate is the rdf:type constant, kind-0's
    // is always an OntoPropNs IRI), so distinct-then-render equals
    // render-then-distinct — and the one corpus-scale exchange
    // carries three longs instead of three ~90-byte URIs
    // (guide §2.3; measured 10.7 s wide-string distinct at sf0.1).
    renderEntailed(
      entailCompact(s, d, allPart.filter(instanceFilter))
        .select(col("kind"), col("a"), col("b"))
        .distinct())
      .select(col("subject"), col("predicate"), col("obj"))
  }

  /** The shared entailment CORE over an arbitrary `(k, v)` instance
    * frame — the batch query, the incremental rung, and the
    * streaming twin ([[graft.streaming.RdfStream]]) all route here.
    * Output carries `src_k` (the deriving instance id) so a
    * streaming maintainer has an exact at-least-once retry key; NOT
    * deduplicated (callers own their set semantics).
    *
    * Plan-shape notes (the first cut OOM'd the sf1/3 GB rehearsal):
    *  - Every "X plus its closure expansion" step joins ONCE against
    *    an IDENTITY-AUGMENTED closure (`spStar`/`scStar` = chain
    *    closure ∪ reflexive pairs) instead of `X union (X join
    *    closure)` — the union form re-evaluates the un-reused
    *    subtree per branch (the naive tree re-expanded `spClosed`
    *    FIVE times: 20 broadcast joins in the census for a 4-join
    *    query).
    *  - dom and range fold into ONE side-tagged broadcast, so the
    *    seeds join reads `spClosed` once more, not twice.
    *  - The instance frame REPARTITIONS before the fanout: a
    *    coalesced handful of fat scan tasks each exploding tens of
    *    millions of URI strings is what blew the capped heap; after
    *    one cheap exchange of the compact (k, v) rows the expansion
    *    runs in shuffle-partition-count small tasks. */
  private[graft] def entailInstances(s: SparkSession, d: String,
      instances: DataFrame): DataFrame =
    // the repartition spreads the URI-string render (the only
    // corpus-scale string work left on this path — the rule DAG
    // itself is all-numeric now): a coalesced handful of fat scan
    // tasks each rendering tens of millions of URI strings is what
    // blew the capped heap in the first cut
    renderEntailed(entailCompact(s, d, instances)
      .repartition(col("src_k")))

  /** The all-NUMERIC rule DAG: `(src_k, kind, a, b)` rows where
    * kind 0 is the sp-closed instance triple `(item_a, P_b,
    * item_2a)` and kind 1 the inferred type `(item_a, rdf:type,
    * C_b)` — the full ρdf conclusion set as three longs per row.
    * URI strings are a pure per-kind-injective render
    * ([[renderEntailed]]) applied AFTER whatever set semantics the
    * caller owns. */
  private def entailCompact(s: SparkSession, d: String,
      instances: DataFrame): DataFrame = {
    val sizes = graft.Tables(s, d, "part")
      .select(col("p_size").as("v")).distinct()
    def withIdentity(closure: DataFrame, members: DataFrame): DataFrame =
      closure.unionByName(
        members.select(col("m").as("src"), col("m").as("dst")))
    val spStar = withIdentity(chainClosureN(s, d),
      sizes.select(col("v").as("m")))
    // reflexive class pairs for every class a dom/range rule can
    // seed (C_v and C_{v+1} over occurring sizes)
    val scStar = withIdentity(chainClosureN(s, d),
      sizes.select(col("v").as("m"))
        .unionByName(sizes.select((col("v") + 1).as("m")))
        .distinct())
    val domRng = sizes.filter(col("v") % 5 === 0)
      .select(col("v").as("p"), col("v").as("c"), lit("s").as("side"))
      .unionByName(sizes.filter(col("v") % 7 === 0)
        .select(col("v").as("p"), (col("v") + 1).as("c"),
          lit("o").as("side")))
    val triples = instances
      .select(col("k").as("src_k"), col("k"), col("v"))
    val spClosed = triples
      .join(broadcast(spStar), triples("v") === spStar("src"))
      .select(col("src_k"), col("k"), col("dst").as("p2"))
    val typeSeeds = spClosed
      .join(broadcast(domRng), spClosed("p2") === domRng("p"))
      .select(col("src_k"),
        when(col("side") === "s", col("k"))
          .otherwise(col("k") * 2).as("x"),
        col("c"))
    val types = typeSeeds
      .join(broadcast(scStar), typeSeeds("c") === scStar("src"))
      .select(col("src_k"), col("x"), col("dst").as("c2"))
    spClosed.select(col("src_k"), lit(0).as("kind"),
        col("k").cast("long").as("a"), col("p2").cast("long").as("b"))
      .unionByName(types.select(col("src_k"), lit(1).as("kind"),
        col("x").cast("long").as("a"), col("c2").cast("long").as("b")))
  }

  /** `(kind, a, b) → (subject, predicate, obj)` URI render —
    * map-side, injective per kind, kinds collision-free (the kind-1
    * predicate is the `rdf:type` constant; kind-0 predicates are
    * OntoPropNs IRIs). Passes any extra columns (src_k) through. */
  private def renderEntailed(compact: DataFrame): DataFrame = {
    val item = "http://ex.org/item/"
    val passthrough = compact.columns
      .filterNot(Set("kind", "a", "b")).map(col).toSeq
    compact.select(passthrough ++ Seq(
      concat(lit(item), col("a")).as("subject"),
      when(col("kind") === 0, concat(lit(OntoPropNs), col("b")))
        .otherwise(lit(RdfType)).as("predicate"),
      when(col("kind") === 0, concat(lit(item), col("a") * 2))
        .otherwise(concat(lit(OntoClassNs), col("b"))).as("obj")): _*)
  }

  /** The STORED pair closure of the `dcterms:relation` graph —
    * memoized per (session, dir), the stored-closure discipline for
    * the text front-end's closure paths (the same role
    * [[fullClosure]] plays for the doubling-fixture family): the
    * first `p+`/`p*` query pays the ladder once; every later rep
    * reads the artifact. */
  private def relationClosure(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"relation-closure:$d") {
      val e = tri(s, d).filter(col("predicate") === DctermsRelation &&
          col("obj_kind") === "iri")
        .select(col("subject").as("src"), col("obj_value").as("dst"))
      RdfOps.reachablePlusPairs(e, e.select(col("src")).distinct())
    }

  /** The COMPOSED relation∘relation closure as a stored artifact —
    * the seq-closure analog of [[relationClosure]], keyed separately
    * (a flat-set artifact must never serve the composed relation and
    * vice versa). The composed edge set is built EXACTLY as the
    * front-end's live path (per-hop IRI-object scans equi-joined on
    * the intermediate) so stored == live by construction. */
  private def seqRelationClosure(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"relation-seq2-closure:$d") {
      val e = tri(s, d).filter(col("predicate") === DctermsRelation &&
          col("obj_kind") === "iri")
        .select(col("subject").as("src"), col("obj_value").as("dst"))
      val e2 = e.join(
          e.select(col("src").as("_mid"), col("dst").as("_nxt")),
          col("dst") === col("_mid"))
        .select(col("src"), col("_nxt").as("dst"))
      RdfOps.reachablePlusPairs(e2, e2.select(col("src")).distinct())
    }

  /** [[SparqlSelect.ClosureProvider]] backed by [[relationClosure]]
    * (flat `dcterms:relation`) and [[seqRelationClosure]] (composed
    * `(relation/relation)`); anything else walks the fixpoint live. */
  private def relClosureProvider(s: SparkSession, d: String)
      : SparqlSelect.ClosureProvider = {
    case (Seq(DctermsRelation), false) =>
      Some(relationClosure(s, d))
    case (Seq(DctermsRelation, DctermsRelation), true) =>
      Some(seqRelationClosure(s, d))
    case _ => None
  }

  /** Serializes single-file builds: the write overwrites a directory
    * (same discipline as the llm family's indexBuildLock). */
  private val singleFileLock = new Object

  /** The fixture corpus as ONE Turtle file on disk (built once per
    * snapshot, memoized), re-parsed through the chunked
    * [[TurtleChunked]] path — 64 KiB chunks force tens of parallel
    * regions on the sf0.01 file. */
  private def turtleChunkedQ(s: SparkSession, d: String): DataFrame = {
    val dir = new java.io.File("target/graft-stored-index/" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") + "/turtle-single")
      .getAbsolutePath
    singleFileLock.synchronized {
      graft.SnapshotMemo.getOrCompute(s, s"turtle-single:$d") {
        Turtle.serialize(tri(s, d).coalesce(1))
          .write.mode("overwrite").text(dir)
        s.range(1).toDF("built")
      }
    }
    val part = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-")).get
    TurtleChunked.parse(s, part.getAbsolutePath, chunkBytes = 64 * 1024)
  }

  /** The multi-graph store fixture: export triples spread across
    * three deterministic named graphs (graph = f(subject, object) —
    * pure char-length arithmetic, identical in both engines) plus
    * the enrichment batch under its own graph id. Public so the TriG
    * round-trip spec exercises the same table. */
  def multiGraph(s: SparkSession, d: String): DataFrame = {
    val main = tri(s, d).withColumn("graph",
      concat(lit("http://ex.org/graph/"),
        (length(col("subject")) + length(col("obj_value"))) % 3))
    val enr = TripleFixture.enrichment(s, d)
      .withColumn("graph", lit("http://ex.org/graph/enrich"))
    main.unionByName(enr)
  }

  /** Per-named-graph profile — ONE exchange on the graph key with
    * map-side partial aggregation; the two distincts ride the same
    * shuffle (Spark expands them, but the key space is 4 graphs). */
  private def graphStats(s: SparkSession, d: String): DataFrame =
    multiGraph(s, d).groupBy(col("graph"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("subject")).as("n_subjects"),
        countDistinct(col("predicate")).as("n_predicates"),
        sum(when(col("obj_kind") === "literal", 1L).otherwise(0L))
          .as("n_literals"))

  /** Cross-graph diff: statements asserted in MORE than one named
    * graph (the redundancy/provenance question a multi-graph store
    * answers before a per-graph overwrite-publish). One shuffle on
    * the (s, p, o) key. */
  private def graphOverlap(s: SparkSession, d: String): DataFrame =
    multiGraph(s, d)
      .groupBy(col("subject"), col("predicate"), col("obj_value"))
      .agg(countDistinct(col("graph")).as("n_graphs"))
      .filter(col("n_graphs") > 1)

  /** The def#size predicate IRI (fixture-only vocabulary). */
  private val DefSize = "http://ex.org/def#size"

  /** SPARQL basic graph pattern — the star query
    * `?item rdf:type ceo:Rijksmonument ; dcterms:title ?t ;
    *  ceo:rijksmonumentnummer ?m ; def:size ?z FILTER(?z >= 25)`.
    *
    * The naive relational spelling is an n-way self-join of the
    * triple table (one join per pattern — what the oracle SQL does,
    * deliberately, as a structurally independent implementation).
    * The engine instead evaluates the star as ONE exchange: group by
    * subject with conditional aggregates pivoting each predicate into
    * a column, then filter — the classic property-table optimization
    * for star BGPs over a triple store. Exact under the fixture's
    * functional properties (≤ 1 value per predicate per subject);
    * multi-valued patterns would take the join form instead — a
    * min/max conditional aggregate would silently pick ONE binding
    * where SPARQL emits a row per binding. This caveat applies to
    * EVERY pivot-based evaluation in this file (bgpOptional,
    * bgpMinus, construct), and the functional-property assumption is
    * GUARDED, not just documented: RdfPathSpec's "pivoted predicates
    * are functional" test fails if the fixture ever grows a second
    * value for a pivoted (subject, predicate).
    *
    * At 100 TB: n-way self-joins shuffle the fact table n times; the
    * pivot shuffles it once, with map-side partial aggregation. */
  private def bgpStar(s: SparkSession, d: String): DataFrame =
    bgpStarOf(tri(s, d))

  /** The pivot evaluation over ANY triple table — public to the spec
    * that proves the exchange disappears entirely on a
    * subject-bucketed store (RdfBucketedSpec). */
  private[rdf] def bgpStarOf(t: DataFrame): DataFrame = {
    val p = col("predicate")
    t.groupBy(col("subject"))
      .agg(
        max(when(p === RdfType && col("obj_value") === CeoRijksmonument, 1)
          .otherwise(0)).as("is_typed"),
        min(when(p === DctermsTitle, col("obj_value"))).as("title"),
        min(when(p === CeoRijksmonumentnummer, col("obj_value")))
          .as("monument_number"),
        min(when(p === DefSize, col("obj_value").cast("int")))
          .as("part_size"))
      .filter(col("is_typed") === 1 && col("title").isNotNull &&
        col("monument_number").isNotNull && col("part_size") >= 25)
      .select(col("subject").as("item"), col("title"),
        col("monument_number"), col("part_size"))
  }

  /** SPARQL OPTIONAL — the left-join graph pattern
    * `?item rdf:type ceo:Rijksmonument ; dcterms:title ?t
    *  OPTIONAL { ?item omeka:resourceTemplate ?tpl }`.
    * On the pivot evaluation an OPTIONAL pattern is FREE: the
    * conditional aggregate already yields NULL when the predicate is
    * absent — the required patterns keep their filters, the optional
    * one simply doesn't get one. The oracle spells it as the naive
    * join + LEFT JOIN, again structurally independent. Pivot-based:
    * functional-property caveat + guard at [[bgpStar]]. */
  private[rdf] def bgpOptional(s: SparkSession, d: String): DataFrame = {
    val p = col("predicate")
    tri(s, d).groupBy(col("subject"))
      .agg(
        max(when(p === RdfType && col("obj_value") === CeoRijksmonument, 1)
          .otherwise(0)).as("is_typed"),
        min(when(p === DctermsTitle, col("obj_value"))).as("title"),
        min(when(p === OmekaResourceTemplate, col("obj_value")))
          .as("template"))
      .filter(col("is_typed") === 1 && col("title").isNotNull)
      .select(col("subject").as("item"), col("title"), col("template"))
  }

  /** SPARQL CONSTRUCT — template-instantiate NEW triples from BGP
    * matches: `CONSTRUCT { ?item sdo:name ?t . ?item sdo:sameAs ?m }
    * WHERE { ?item rdf:type ceo:Rijksmonument ; dcterms:title ?t ;
    * ceo:rijksmonumentnummer ?m }`. The match runs once (the same
    * one-exchange pivot as the star BGP); each template pattern is a
    * pure projection of the match table back into the canonical
    * triple schema, unioned and set-deduped — so the output is
    * itself a graph the Turtle/TriG sinks can publish. This is the
    * reference's own derive-and-assert shape (O16's sameAs
    * derivation) generalized to arbitrary templates. Pivot-based:
    * functional-property caveat + guard at [[bgpStar]]. */
  private def construct(s: SparkSession, d: String): DataFrame = {
    val p = col("predicate")
    val m = tri(s, d).groupBy(col("subject"))
      .agg(
        max(when(p === RdfType && col("obj_value") === CeoRijksmonument, 1)
          .otherwise(0)).as("is_typed"),
        min(when(p === DctermsTitle, col("obj_value"))).as("title"),
        min(when(p === CeoRijksmonumentnummer, col("obj_value")))
          .as("mon"))
      .filter(col("is_typed") === 1 && col("title").isNotNull &&
        col("mon").isNotNull)
    def tpl(pred: String, value: Column, kind: String,
        lang: Option[String]): DataFrame =
      m.select(lit("default").as("graph"), col("subject"),
        lit("iri").as("subject_kind"), lit(pred).as("predicate"),
        value.as("obj_value"), lit(kind).as("obj_kind"),
        lang.map(lit(_)).getOrElse(lit(null).cast("string"))
          .as("obj_lang"),
        lit(null).cast("string").as("obj_datatype"))
    tpl(SdoName, col("title"), "literal", Some("nl"))
      .union(tpl(SdoSameAs, col("mon"), "literal", None))
      .dropDuplicates()
  }

  /** SPARQL ASK — does any match exist? One short-circuitable
    * aggregate (a count over the filtered pattern; at scale the
    * engine could LIMIT 1 instead, but the count keeps the oracle
    * row exact): asks whether any @context leak survived the
    * cleaning pass (it must not — this is the always-false
    * data-quality assertion a publisher runs before the sink). The
    * positive control `any_rmnr` asks the same question of a pattern
    * that does match. */
  private def ask(s: SparkSession, d: String): DataFrame = {
    val cleaned = RdfOps.cleanExport(tri(s, d))
    cleaned.agg(
      (sum(when(col("subject").contains("@context") ||
        col("obj_value").contains("@context"), 1L).otherwise(0L)) > 0)
        .as("any_context_leak"),
      (sum(when(col("predicate") === CeoRijksmonumentnummer, 1L)
        .otherwise(0L)) > 0).as("any_rmnr"))
  }

  /** SPARQL DESCRIBE — every triple about the resources a pattern
    * matches: `DESCRIBE ?item WHERE { ?item ceo:rijksmonumentnummer
    * ?m . ?item omeka:isPublic "true" }`. The match set is one
    * deduped subject column whose size is the PATTERN'S selectivity,
    * not the corpus — so no forced broadcast hint: AQE broadcasts a
    * selective match and falls back to a subject-keyed shuffle
    * semi-join for an unselective one (a hint would pin the
    * corpus-scale case to a broadcast it can't afford). Output is a
    * graph (full triple rows), publishable like any other. */
  private def describe(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val matched = t.filter(col("predicate") === CeoRijksmonumentnummer)
      .join(t.filter(col("predicate") === OmekaIsPublic &&
          col("obj_value") === "true")
          .select(col("subject")).distinct(),
        Seq("subject"), "left_semi")
      .select(col("subject")).distinct()
    t.join(matched, Seq("subject"), "left_semi")
  }

  /** SPARQL MINUS / FILTER NOT EXISTS — the negation pattern:
    * Rijksmonument-typed subjects WITHOUT a resource template (the
    * untemplated-records worklist; title carried along, OPTIONAL
    * since a dirty export can detach it). On the pivot evaluation
    * negation is a zero test on a conditional flag; the oracle
    * spells it as the naive join + NOT EXISTS anti-join. Pivot-
    * based: functional-property caveat + guard at [[bgpStar]]. */
  private def bgpMinus(s: SparkSession, d: String): DataFrame = {
    val p = col("predicate")
    tri(s, d).groupBy(col("subject"))
      .agg(
        max(when(p === RdfType && col("obj_value") === CeoRijksmonument, 1)
          .otherwise(0)).as("is_typed"),
        min(when(p === DctermsTitle, col("obj_value"))).as("title"),
        max(when(p === OmekaResourceTemplate, 1).otherwise(0))
          .as("has_template"))
      .filter(col("is_typed") === 1 && col("has_template") === 0)
      .select(col("subject").as("item"), col("title"))
  }

  /** SPARQL property path `dcterms:relation{1,8}` from every
    * Rijksmonument-typed subject: bounded transitive closure with
    * min-hop semantics, via [[RdfOps.reachable]]'s semi-naive
    * iteration (Spark's `WITH RECURSIVE` rejects `UNION` in the
    * recursive term, so a cycle-safe set closure cannot use it —
    * this is a custom iterative operator; the DuckDB oracle uses its
    * native WITH RECURSIVE as an independent implementation). */
  private def reachableQ(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val edges = t.filter(col("predicate") === DctermsRelation &&
        col("obj_kind") === "iri")
      .select(col("subject").as("src"), col("obj_value").as("dst"))
    val seeds = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("src")).distinct()
    RdfOps.reachable(edges, seeds, maxHops = 8)
  }

  /** Fixture for the UNBOUNDED (`*`) walk. The export's own
    * dcterms:relation edges form a k→k+1 CHAIN, whose unbounded
    * closure is O(n²) pairs over O(n) rounds — the adversarial shape
    * an unbounded path query must be pointed away from, at any
    * engine. The star query instead walks a DOUBLING graph derived
    * from the same part table (k → 4k, diameter log₄ n, so the
    * fixpoint round count grows with log of corpus size) with
    * k → k/16 back-edges on k % 16 = 0 (REAL cycles, e.g.
    * 4 → 16 → 64 → 4, so termination-on-cycles is oracle-exercised,
    * not just spec-asserted). Both engines derive the edge list with
    * pure int arithmetic; the max-key bound rides a broadcast 1-row
    * cross join, nothing driver-side. */
  private def starEdges(s: SparkSession, d: String): DataFrame = {
    val item = "http://ex.org/item/"
    val p = graft.Tables(s, d, "part").select(col("p_partkey").as("k"))
    val mx = broadcast(p.agg(max(col("k")).as("mx")))
    val fwd = p.crossJoin(mx).filter(col("k") * 4 <= col("mx"))
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), col("k") * 4).as("dst"))
    val back = p.filter(col("k") % 16 === 0)
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), expr("k div 16")).as("dst"))
    fwd.union(back)
  }

  private def starSeeds(s: SparkSession, d: String): DataFrame =
    tri(s, d).filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("src")).distinct()

  /** The FULL `p+` pair closure of the doubling fixture — walked
    * once per (session, dir) from EVERY edge source, the shared base
    * artifact all doubling-graph closures filter from: the seeded
    * closure ([[starClosure]]) is a semi-join on the seed set, the
    * mid-seeded sequence closure ([[pathSeqPlus]]) the same on the
    * mids, and the inverse closure ([[pathInvPlus]]) its transpose
    * ((^p)+ ≡ ^(p+), a projection swap). ONE fixpoint walk on a cold
    * session where the three queries previously paid three.
    *
    * Full (all-sources) vs seeded size: the doubling orbit of node k
    * is O(log(max/k)), and Σ_k log(max/k) = O(N) — the full closure
    * is LINEAR in the node count, so walking every source costs the
    * same O(pairs) the stored-closure discipline already accepts;
    * derived filters are then shuffle-free broadcast semi-joins. */
  private def fullClosure(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"full-closure:$d") {
      val e = starEdges(s, d)
      // ladder, not frontier: re-measured head-to-head this round —
      // the doubling fixture's seed-to-anywhere diameter is ~35, so
      // the frontier walk pays ~70 barrier jobs (10.3 s cold via
      // rdf_path_inv_plus) where the ~6-phase ladder with its sized,
      // AQE-off interior pays ~29 (5.9 s). The r17 regression was the
      // ladder's AQE replanning cost, not the algorithm (fixed in
      // RdfOps.reachablePlusPairs).
      RdfOps.reachablePlusPairs(e, e.select(col("src")).distinct())
    }

  /** The SEEDED `p+` pair closure — the stored-closure artifact a
    * triple store maintains for a hot path predicate (the same
    * discipline as the llm family's memoized pair/signature
    * artifacts: candidate generation runs once, every consumer reads
    * it). [[reachableStarQ]] and the incremental maintenance query
    * both consume it — the latter's whole premise is that the
    * closure is STORED, not rebuilt. Derived from [[fullClosure]] by
    * a broadcast semi-join on the dimension-scale seed set. */
  private def starClosure(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"star-closure:$d")(
      Fixpoint.ser(fullClosure(s, d)
        .join(broadcast(starSeeds(s, d)), Seq("src"), "left_semi")))

  /** The stored `p+` closure artifact, exposed so the scale
    * rehearsal ([[graft.tools.ScaleRehearsal]]) can measure its
    * O(pairs) growth across corpus scales instead of asserting it. */
  private[graft] def storedClosure(s: SparkSession, d: String): DataFrame =
    starClosure(s, d)

  /** SPARQL `p*` as a query form: unbounded closure + hop-0 rows
    * over the doubling fixture; output is the pair set (the SPARQL
    * binding semantics — no hop column, so the oracle's recursion
    * can use the cycle-safe pairs-only `WITH RECURSIVE`). */
  private def reachableStarQ(s: SparkSession, d: String): DataFrame = {
    val self = starSeeds(s, d).select(col("src"), col("src").as("dst"))
    self.union(starClosure(s, d)).distinct()
  }

  private val DefBrand = "http://ex.org/def#brand"

  /** SPARQL VALUES: inline data joined into a BGP —
    * `VALUES ?brand { "Brand#13" "Brand#32" "Brand#55" }` against
    * `?item def:brand ?brand . ?item dcterms:title ?title`. The
    * VALUES relation is a literal local DataFrame, explicitly
    * broadcast: inline data is always driver-small, so the join
    * never shuffles the triple scan. */
  private def valuesJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = tri(s, d)
    val vals = Seq("Brand#13", "Brand#32", "Brand#55").toDF("brand")
    val br = t.filter(col("predicate") === DefBrand)
      .select(col("subject").as("item"), col("obj_value").as("brand"))
    val ti = t.filter(col("predicate") === DctermsTitle)
      .select(col("subject").as("item"), col("obj_value").as("title"))
    br.join(broadcast(vals), Seq("brand"))
      .join(ti, Seq("item"))
      .select(col("item"), col("brand"), col("title"))
  }

  /** SPARQL GROUP BY aggregate query form:
    * `SELECT ?brand (COUNT(*) AS ?n_items) (MIN(?item) AS ?first_item)
    *  WHERE { ?item def:brand ?brand . ?item a ceo:Rijksmonument }
    *  GROUP BY ?brand`. The typed-subject set is dimension-scale →
    * broadcast semi-join; then ONE exchange on the 25-value brand
    * key with map-side partial aggregation. */
  /** SPARQL 1.1 `GROUP_CONCAT(?item; separator=";")` per brand.
    * SPARQL leaves the concatenation order implementation-defined;
    * the engine PINS lexicographic order (sort_array over the
    * collected set) so the form is deterministic and
    * oracle-checkable — the same choice a reproducible pipeline
    * makes anyway (an unordered concat is a flaky diff). Plan:
    * identical single-exchange shape to [[groupAgg]] — the
    * collect_set partial-aggregates map-side; per-group state is
    * bounded by the group's distinct members, the inherent cost of
    * the aggregate itself. */
  private def groupConcat(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("item")).distinct()
    t.filter(col("predicate") === DefBrand)
      .select(col("subject").as("item"), col("obj_value").as("brand"))
      .join(broadcast(typed), Seq("item"), "left_semi")
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_items"),
        array_join(sort_array(collect_set(col("item"))), ";")
          .as("items_concat"))
  }

  private def groupAgg(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("item")).distinct()
    t.filter(col("predicate") === DefBrand)
      .select(col("subject").as("item"), col("obj_value").as("brand"))
      .join(broadcast(typed), Seq("item"), "left_semi")
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_items"), min(col("item")).as("first_item"))
  }

  /** SPARQL HAVING —
    * `SELECT ?brand (COUNT(*) AS ?n_items) WHERE { ?item def:brand
    *  ?brand . ?item a ceo:Rijksmonument } GROUP BY ?brand
    *  HAVING(COUNT(*) > 1)`. Same single-exchange shape as
    * [[groupAgg]]; HAVING is a post-aggregate filter on the
    * already-tiny group table — free at any scale. */
  private def groupHaving(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("item")).distinct()
    t.filter(col("predicate") === DefBrand)
      .select(col("subject").as("item"), col("obj_value").as("brand"))
      .join(broadcast(typed), Seq("item"), "left_semi")
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > 1)
  }

  /** PageRank over the doubling-fixture link graph ([[starEdges]]) —
    * the canonical iterative graph-analytics workload a triple store
    * is asked for beyond pattern matching (link analysis over
    * cross-references). 3 iterations, damping 0.85, EXACT integer
    * arithmetic throughout: ranks live in ×1e9 fixed point, every
    * step is integer `div` (both engines replay the identical
    * division sequence — float summation order could never
    * hash-match), dangling mass is dropped (documented variant;
    * deterministic in both engines).
    *
    * Scale shape per iteration: contributions are ONE exchange on
    * `dst` (map-side partial sums) after a src-keyed equi-join of
    * the rank vector against the degree-annotated edge scan — the
    * Pregel/GraphX shape exactly; co-partitioning edges and ranks by
    * key makes the join exchange-free at 100 TB. The iteration count
    * is fixed and small, so lineage stays O(iterations); a
    * run-to-convergence variant would checkpoint per round like the
    * [[RdfOps.reachable]] walk. */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    val scale = 1000000000L
    val e = starEdges(s, d)
    val odeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val ed = e.join(odeg, Seq("src"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nCnt = broadcast(nodes.agg(count(lit(1)).as("n")))
    var pr = nodes.crossJoin(nCnt)
      .select(col("node"), expr(s"${scale}L div n").as("pr"))
    for (_ <- 1 to 3) {
      val contrib = ed.join(pr, ed("src") === pr("node"))
        .select(col("dst"), expr("pr div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
        .select(col("dst").as("cnode"), col("contrib"))
      pr = nodes.crossJoin(nCnt)
        .join(contrib, col("node") === col("cnode"), "left")
        .select(col("node"),
          (expr(s"((${scale}L div n) * 15) div 100") +
            expr("(85 * coalesce(contrib, 0L)) div 100")).as("pr"))
    }
    pr.select(col("node"), col("pr").as("pr_scaled"))
  }

  /** Integer scale and iteration cap of [[pagerankConverged]] —
    * shared with the oracle generator so both sides replay the same
    * recurrence depth. Round count to the limit cycle is
    * ≈ log(scale/n)/log(1/0.85); scale 10⁵ keeps it ≲ 45 at the
    * smallest fixture (n ≈ 90) and ≈ 15 at sf0.1 (n ≈ 9k) — the
    * scale knob trades rank resolution for iteration count, and a
    * driver-style cold single shot pays ~2 driver actions per
    * round. */
  private val PrcScale = 100000L
  private[rdf] val PrcCap = 60

  /** Cycle-detection window of [[pagerankConverged]]: limit cycles
    * up to this period exit early (period 3 is the one the fixture
    * actually produces; 5 leaves margin). */
  private[rdf] val PrcWindow = 5

  /** PageRank RUN TO CONVERGENCE with DANGLING-MASS redistribution —
    * the production form of [[pagerank]]: each round the rank mass
    * sitting on dangling nodes (a `dst` with no outgoing edge — the
    * doubling fixture has many: 4k past the max with k not a
    * back-edge source) is collected and redistributed uniformly
    * (`dm div n` added to every node's pre-damping inflow), so rank
    * is not silently leaked.
    *
    * CONVERGENCE of a TRUNCATING recurrence: exact integer
    * fixpoints often don't exist — the fixture recurrence settles
    * into a persistent PERIOD-3 limit cycle (a handful of nodes
    * rotate ±1 forever under the floor divisions; measured, not
    * hypothesized). So the loop exits when the state re-enters any
    * state of the last [[PrcWindow]] rounds (limit cycle of period ≤
    * window), with a hard cap of [[PrcCap]].
    *
    * ORACLE EQUIVALENCE WITHOUT A DYNAMIC STEP COUNT: the oracle
    * replays exactly [[PrcCap]] fixed steps, and the early exit
    * aligns with it BY MODULO — once `s_t == s_{t−p}`, the sequence
    * is periodic from `t−p`, so `s_cap = s_{(t−p) + ((cap−(t−p)) mod
    * p)}`, a state still held in the window; a plain fixpoint is the
    * p = 1 case. A cycle longer than the window (never observed)
    * would just run to the cap, where the two sides still agree step
    * for step. Either way the hash matches — a data-driven loop
    * checked by a fixed-depth replay.
    *
    * Scale shape: per round one dst-keyed exchange (the contrib
    * aggregate), a broadcast 1-row dangling-mass aggregate, and a
    * node-keyed join against the checkpointed rank table; the rounds
    * run on [[graft.Fixpoint.iterate]]. The converged table is a per-snapshot stored artifact
    * ([[starClosure]] discipline) — consumers read the result, not
    * the loop. */
  private def pagerankConverged(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"pagerank-converged:$d")(
      computePagerankConverged(s, d))

  /** Fixed replay depth of [[pagerankIncr]]'s warm phase. A warm
    * start re-enters a limit cycle in O(log Δ / log(1/0.85)) rounds
    * where Δ is the perturbation the delta edges caused — the
    * contraction argument; measured on the fixture: cycle entry at
    * round 29 (sf0.001) / 27 (sf0.01) versus 36 / 31 for a cold
    * restart on the same posterior graph. The saving is log-scale,
    * so it is MODEST when the delta touches ~10 % of nodes (this
    * fixture) and LARGE when a weekly delta touches 0.1 % of a
    * 100 TB graph — the regime the path exists for. 34 bounds the
    * measured entries with window margin. */
  private[rdf] val PrcIncrCap = 34

  /** INCREMENTAL PageRank — the weekly-refresh path: when the
    * snapshot gains a delta batch of edges ([[deltaShortcutEdges]],
    * the same posterior graph as `rdf_reachable_incr`), the refresh
    * WARM-STARTS [[pagerankLoop]] from the stored converged ranks of
    * the base snapshot instead of recomputing from uniform — new
    * nodes enter at the uniform share, everyone else at their old
    * rank — and re-converges in fewer rounds than a cold restart
    * (measured in PagerankSpec; the saving is log(Δ)-proportional,
    * see [[PrcIncrCap]]). Each round is the same one-exchange
    * shape, so the refresh cost is proportional to RE-CONVERGENCE,
    * not to corpus history. Completes the
    * incremental axis: closure maintenance (`rdf_reachable_incr`),
    * enrichment delta (`rdf_enrich_delta`), and now rank
    * maintenance.
    *
    * The oracle replays the SAME warm-start definition at fixed
    * depth ([[PrcCap]] base steps from uniform, then [[PrcIncrCap]]
    * posterior steps from that state) — the engine's early exits
    * align by the [[pagerankConverged]] modulo argument on BOTH
    * phases, so the hash match proves the warm path end to end.
    * (Warm-vs-cold-on-posterior equality is a separate, empirical
    * claim — a truncating recurrence's limit CYCLE phase at the cap
    * depends on the trajectory, so the spec asserts closeness and
    * mass conservation, not bit equality; see PagerankSpec.) */
  private def pagerankIncr(s: SparkSession, d: String): DataFrame =
    graft.SnapshotMemo.getOrCompute(s, s"pagerank-incr:$d")(
      computePagerankIncr(s, d)._1)

  private[rdf] def computePagerankIncr(
      s: SparkSession, d: String): (DataFrame, Int) = {
    val base = pagerankConverged(s, d)
      .select(col("node"), col("pr_scaled").as("pr"))
    pagerankLoop(s, starEdges(s, d).union(deltaShortcutEdges(s, d)),
      Some(base), PrcIncrCap)
  }

  private def computePagerankConverged(
      s: SparkSession, d: String): DataFrame =
    pagerankLoop(s, starEdges(s, d), None, PrcCap)._1

  /** The shared truncating-recurrence loop behind
    * [[pagerankConverged]] (cold, uniform init) and
    * [[pagerankIncr]] (warm init from a prior snapshot's converged
    * ranks). `warmInit` rows are joined onto the CURRENT graph's
    * node set — nodes the prior snapshot didn't have start at the
    * uniform share of the NEW node count (the standard warm-start
    * extension); `cap` is the fixed depth the oracle replays and
    * the modulo-alignment target of the early exit. Returns the
    * stored rank table and the number of rounds actually executed
    * (the incremental path's O(re-convergence) evidence — specs
    * assert it, the driver never pays more than it). */
  private[graft] def pagerankLoop(s: SparkSession, e: DataFrame,
      warmInit: Option[DataFrame], cap: Int): (DataFrame, Int) = {
    val odeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    // node set with a per-node has_out flag: ¬has_out IS the
    // dangling set, and carrying the flag in the rank table lets one
    // aggregate per round produce BOTH the convergence diffs and the
    // NEXT round's dangling mass.
    val (nodes, nm) = Fixpoint.observed(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(e.select(col("src").as("node")).distinct()
          .withColumn("has_out", lit(true)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("has_out"), lit(false))
        .as("has_out")), count(lit(1)).as("n"))
    // scalar plumbing: n, the uniform share, the teleport term and
    // the per-round dangling mass are all SINGLE NUMBERS — observed
    // on the checkpoints' own jobs and folded into the round's
    // expressions as literals instead of riding broadcast crossJoins
    // through every plan. Long division in Scala matches SQL `div`
    // on these non-negative operands.
    val n = Fixpoint.long(nm, "n")
    // the edge table's checkpoint is REPARTITIONED to the loop's own
    // sized width: the loop scans it every round, and with AQE off in
    // the interior (below) nothing coalesces a wider-than-needed scan
    val ed = e.join(odeg, Seq("src"))
      .repartition(graft.LoopConf.partsFor(n))
      .localCheckpoint()
    // interior exchanges sized to the measured node count for the
    // whole loop scope; AQE off in the interior — the shape is fixed
    // and the width measured, and AQE's per-stage re-optimization
    // was most of the round's driver cost (see LoopConf.noAqe)
    graft.LoopConf.sized(s, n) {
    graft.LoopConf.noAqe(s) {
    val uniform = PrcScale / n
    val base15 = (uniform * 15) / 100
    // THE DETECTION WINDOW RIDES AS COLUMNS, NOT AS SEPARATE STATE
    // TABLES: the frame at round `it` is (node, has_out, pr_0 ..
    // pr_W) with pr_j = the rank at state s_{it−j} (W = PrcWindow).
    // The aggregates observed on each round's checkpoint then yield
    // EVERY window diff d_j = Σ|pr_0 − pr_j| plus the dangling mass —
    // one driver job per round, zero joins for convergence. The
    // per-state diffSum join scans this replaces cost up to PrcWindow
    // extra jobs per round through the whole cycle-detection tail:
    // measured 531 jobs / 18.0 s wall for 7.0 s of task time on
    // rdf_pagerank_incr cold (ProfileQ). Cost: W extra long columns
    // on a node-scale frame.
    val W = PrcWindow
    val prCols = (0 to W).map(j => s"pr_$j")
    val init = (warmInit match {
      case None => nodes.select(Seq(col("node"), col("has_out"),
        lit(uniform).as("pr_0")) ++
        (1 to W).map(j => lit(null).cast("long").as(s"pr_$j")): _*)
      case Some(prev) => nodes
        .join(prev.select(col("node"), col("pr").as("wpr")),
          Seq("node"), "left")
        .select(Seq(col("node"), col("has_out"),
          coalesce(col("wpr"), lit(uniform)).as("pr_0")) ++
          (1 to W).map(j => lit(null).cast("long").as(s"pr_$j")): _*)
    })
    // d_j stays null while lag j reaches past the first state (pr_j
    // is still all null there), so only lags that exist can match
    val metrics = coalesce(sum(when(!col("has_out"), col("pr_0"))), lit(0L))
        .as("dm") +: (1 to W).map(j =>
      sum(abs(col("pr_0") - col(s"pr_$j"))).as(s"d_$j"))
    // smallest lag p with s_it == s_{it−p} (latest window state first)
    def period(m: Fixpoint.Metrics): Option[Int] =
      (1 to W).find(j => m.get(s"d_$j").contains(0L))
    val res = Fixpoint.iterate("pagerank", Fixpoint.observed(init, metrics: _*),
        metrics, cap) { (cur, m, _) =>
      val dmn = Fixpoint.long(m, "dm") / n
      val contrib = ed.join(cur.select(col("node"), col("pr_0")),
          ed("src") === col("node"))
        .select(col("dst"), expr("pr_0 div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
        .select(col("dst").as("cnode"), col("contrib"))
      // The column shift pr_j := pr_{j−1} is a pure projection —
      // s_{it−j} for j ≤ W stays addressable without holding any
      // older frame. (The per-round dmn literal was also tried as
      // broadcast data to stabilize the codegen source — measured no
      // wall change and +1 job/round; literal kept.)
      cur
        .join(contrib, col("node") === col("cnode"), "left")
        .select(Seq(col("node"), col("has_out"),
          expr(s"${base15}L + " +
            s"(85 * (coalesce(contrib, 0L) + ${dmn}L)) div 100")
            .as("pr_0")) ++
          (1 to W).map(j => col(s"pr_${j - 1}").as(s"pr_$j")): _*)
    } { (_, m) => period(m).isDefined }
    val it = res.rounds // res.state is s_it
    val out = period(res.metrics).fold(res.state) { per =>
      val t0 = it - per
      val pick = t0 + (cap - t0) % per // s_cap, still in the window
      res.state.select(col("node"), col("has_out"),
        col(s"pr_${it - pick}").as("pr_0"))
    }
    // the stored artifact consumers read — materialized EAGERLY so
    // every checkpoint the build pinned can be freed below
    val stored = Fixpoint.ser(out.select(col("node"),
      col("pr_0").as("pr_scaled")))
    Seq(res.state, ed, nodes).foreach(Fixpoint.free)
    (stored, it)
    }
    }
  }

  /** SPARQL BIND + string functions —
    * `SELECT ?item ?title ?title_uc ?title_len ?slug WHERE {
    *    ?item dcterms:title ?title .
    *    FILTER(langMatches(lang(?title), "nl"))
    *    BIND(UCASE(?title) AS ?title_uc)
    *    BIND(STRLEN(?title) AS ?title_len)
    *    BIND(REPLACE(?title, " ", "_") AS ?slug)
    *    FILTER(?title_len >= 10) }`.
    *
    * Every BIND is a codegen'd scalar projection and both FILTERs
    * are scan-pushable predicates — the whole query is one map-side
    * pass with zero exchanges, at any corpus size. upper/length/
    * replace are byte-identical across Spark and DuckDB on the
    * fixture's ASCII literals (the oracle is the independent
    * spelling of the same functions). */
  private def bindStrFuns(s: SparkSession, d: String): DataFrame =
    tri(s, d)
      .filter(col("predicate") === DctermsTitle &&
        col("obj_kind") === "literal" && col("obj_lang") === "nl" &&
        length(col("obj_value")) >= 10)
      .select(col("subject").as("item"), col("obj_value").as("title"),
        upper(col("obj_value")).as("title_uc"),
        length(col("obj_value")).cast("bigint").as("title_len"),
        regexp_replace(col("obj_value"), " ", "_").as("slug"))

  /** Term-introspection census — SPARQL's isIRI/isLiteral/isBlank,
    * `lang()` and `datatype()` accessors as a GROUP BY profile over
    * the store: `(term kind, lang, datatype) → n_terms, n_preds`.
    * ONE exchange on a vocabulary-scale key (kinds × langs ×
    * datatypes — single digits here, bounded by the ontology, never
    * the corpus) with map-side partial aggregation; the distinct
    * predicate count rides the same shuffle. */
  private def termStats(s: SparkSession, d: String): DataFrame =
    tri(s, d).groupBy(
        col("obj_kind"),
        coalesce(col("obj_lang"), lit("")).as("lang"),
        coalesce(col("obj_datatype"), lit("")).as("datatype"))
      .agg(count(lit(1)).as("n_terms"),
        countDistinct(col("predicate")).as("n_preds"))

  /** SPARQL 1.1 subquery with solution modifiers —
    * `SELECT ?item ?n_triples ?title WHERE {
    *    { SELECT ?item (COUNT(*) AS ?n_triples) WHERE { ?item ?p ?o }
    *      GROUP BY ?item ORDER BY DESC(?n_triples) ASC(?item)
    *      LIMIT 5 }
    *    OPTIONAL { ?item dcterms:title ?title } }`.
    *
    * The inner aggregate is one exchange on subject; the ORDER
    * BY/LIMIT plans as TakeOrderedAndProject — a bounded per-
    * partition heap of 5 rows merged on the driver, never a full
    * sort of the aggregate (the modifier that makes top-N affordable
    * at corpus scale). The OPTIONAL title attaches to 5 rows, so the
    * title side is broadcast by size, not by hint. Ties are pinned
    * by the ASC(?item) secondary key — deterministic in both
    * engines. */
  private def subqueryTopN(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val top = t.groupBy(col("subject"))
      .agg(count(lit(1)).as("n_triples"))
      .orderBy(col("n_triples").desc, col("subject").asc)
      .limit(5)
    val titles = t.filter(col("predicate") === DctermsTitle &&
        col("obj_kind") === "literal")
      .groupBy(col("subject")).agg(min(col("obj_value")).as("title"))
    top.join(titles, Seq("subject"), "left")
      .select(col("subject").as("item"), col("n_triples"), col("title"))
  }

  /** SPARQL sequence path `dcterms:relation/dcterms:title` —
    * `?x relation ?y . ?y title ?t`: each path step is a filtered
    * projection of the triple table and the composition is ONE
    * equi-join on the intermediate node. Both sides are
    * corpus-scale in general, so this joins hash-to-hash (no
    * broadcast hint); a subject-bucketed triple store co-locates
    * every step of any sequence path, since each step joins
    * step-N's object to step-N+1's subject. */
  private def pathSeq(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val rel = t.filter(col("predicate") === DctermsRelation &&
        col("obj_kind") === "iri")
      .select(col("subject").as("src"), col("obj_value").as("mid"))
    val ti = t.filter(col("predicate") === DctermsTitle)
      .select(col("subject").as("mid"), col("obj_value").as("title"))
    rel.join(ti, Seq("mid")).select(col("src"), col("title"))
  }

  /** SPARQL alternation `(dcterms:title | def:brand)` over
    * Rijksmonument-typed subjects — `?x (title|brand) ?v`. An
    * alternation is a single `isin` filter (one scan, pushed down),
    * never a union of per-predicate scans; the matched predicate
    * rides along as `via` (SPARQL exposes it when the pattern is
    * spelled `{?x title ?v} UNION {?x brand ?v}`). */
  private def pathAlt(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject")).distinct()
    t.filter(col("predicate").isin(DctermsTitle, DefBrand))
      .join(broadcast(typed), Seq("subject"), "left_semi")
      .select(col("subject").as("item"), col("predicate").as("via"),
        col("obj_value").as("value"))
  }

  /** SPARQL inverse path `^dcterms:relation` from typed subjects —
    * `?item ^relation ?pointer` ≡ `?pointer relation ?item`: the
    * edge scan filtered once, then a broadcast semi-join against the
    * dimension-scale typed-subject set ON THE OBJECT side (the
    * inverse is a join-side swap, not a new operator — no edge
    * reversal materialized). */
  private def pathInv(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("item")).distinct()
    t.filter(col("predicate") === DctermsRelation &&
        col("obj_kind") === "iri")
      .select(col("obj_value").as("item"), col("subject").as("pointer"))
      .join(broadcast(typed), Seq("item"), "left_semi")
  }

  /** SPARQL zero-or-one path `dcterms:relation?` from typed
    * subjects — hop-0 self rows unioned with direct successors, the
    * bounded sibling of `*`'s fixpoint (no iteration at all: `?` is
    * one filtered scan plus a constant projection). */
  private def pathOpt(s: SparkSession, d: String): DataFrame = {
    val t = tri(s, d)
    val typed = t.filter(col("predicate") === RdfType &&
        col("obj_value") === CeoRijksmonument)
      .select(col("subject").as("src")).distinct()
    val hop1 = t.filter(col("predicate") === DctermsRelation &&
        col("obj_kind") === "iri")
      .select(col("subject").as("src"), col("obj_value").as("dst"))
      .join(broadcast(typed), Seq("src"), "left_semi")
    typed.select(col("src"), col("src").as("dst")).union(hop1).distinct()
  }

  /** SPARQL negated property set `!(rdf:type|o:isPublic)` — every
    * edge whose predicate is NOT in the set. The negation compiles
    * to a NOT-IN filter pushed into the scan (the same shape as O18's
    * predicate delete, here as a query form): no join, no shuffle
    * except the final set-dedup on (item, via, value). */
  private def pathNps(s: SparkSession, d: String): DataFrame =
    tri(s, d)
      .filter(!col("predicate").isin(RdfType, OmekaIsPublic))
      .select(col("subject").as("item"), col("predicate").as("via"),
        col("obj_value").as("value"))
      .distinct()

  /** Incremental `p+` maintenance over the doubling fixture: the
    * base closure (what [[reachableStarQ]] walks, minus hop-0) is
    * updated with a deterministic batch of NEW shortcut edges —
    * item k → item 3k for k % 10 = 0 — via
    * [[RdfOps.reachablePlusDelta]], never recomputed. The oracle is
    * the from-scratch closure of the UNION graph, so the hash match
    * proves incremental == full. The delta edges create paths to
    * nodes outside the pure doubling orbit (3k is never a power of
    * 4 times k), so the delta walk genuinely extends the pair set. */
  private def reachableIncrQ(s: SparkSession, d: String): DataFrame =
    RdfOps.reachablePlusDelta(starEdges(s, d), deltaShortcutEdges(s, d),
      starSeeds(s, d), starClosure(s, d))

  /** The deterministic "next week's batch" of NEW shortcut edges —
    * item k → item 3k for k % 10 = 0 — shared by every incremental
    * fixture ([[reachableIncrQ]], [[pagerankIncr]]) so the posterior
    * snapshot means the same graph everywhere. */
  private def deltaShortcutEdges(s: SparkSession, d: String): DataFrame = {
    val item = "http://ex.org/item/"
    val p = graft.Tables(s, d, "part").select(col("p_partkey").as("k"))
    val mx = broadcast(p.agg(max(col("k")).as("mx")))
    p.crossJoin(mx)
      .filter(col("k") % 10 === 0 && col("k") * 3 <= col("mx"))
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), col("k") * 3).as("dst"))
  }

  /** SPARQL composed path `(def:tri|def:pent)+` — ALTERNATION UNDER
    * CLOSURE. An alternation inside `+` is ONE fixpoint over the
    * UNION edge set, never two interleaved walks: union is
    * partition-concat (no shuffle), then the single semi-naive walk
    * pays the same per-round cost as a one-predicate closure.
    * Fixture: ×3 and ×5 multiplicative edges over the part key
    * space — reachability from a seed k is the {k·3^a·5^b ≤ max}
    * lattice, which NEITHER branch generates alone (the pigeonhole
    * that proves the union is genuinely walked), diameter
    * O(log max). Output is the SPARQL binding pair set. */
  private def pathAltPlus(s: SparkSession, d: String): DataFrame = {
    val item = "http://ex.org/item/"
    val p = graft.Tables(s, d, "part").select(col("p_partkey").as("k"))
    val mx = broadcast(p.agg(max(col("k")).as("mx")))
    val tri3 = p.crossJoin(mx).filter(col("k") * 3 <= col("mx"))
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), col("k") * 3).as("dst"))
    val pent = p.crossJoin(mx).filter(col("k") * 5 <= col("mx"))
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), col("k") * 5).as("dst"))
    // stored-closure discipline ([[starClosure]]): the fixpoint over
    // the union edge set is a per-snapshot artifact, built once and
    // read by every subsequent evaluation — a store that answers
    // (p1|p2)+ repeatedly materializes that closure exactly like a
    // single-predicate one. (Own edge set ⇒ own walk: the ×3/×5
    // lattice shares nothing with [[fullClosure]]'s doubling graph.)
    graft.SnapshotMemo.getOrCompute(s, s"alt-plus-closure:$d")(
      RdfOps.reachablePlusPairs(tri3.union(pent), starSeeds(s, d)))
  }

  /** SPARQL composed path `(^def:quad)+` — INVERSE UNDER CLOSURE.
    * `^` distributes over `+` ((^p)+ ≡ ^(p+)), so the engine inverts
    * the EDGE SCAN — a projection swap on [[starEdges]], free — and
    * runs the identical forward walk; a reversed closure is never
    * materialized. The inverse graph is ÷4 steps plus ×16
    * back-edge inverses, so it has real cycles of its own
    * (j → 16j → 4j → j) and the walk's termination-on-cycles is
    * exercised in the inverse direction too. */
  private def pathInvPlus(s: SparkSession, d: String): DataFrame =
    // per-snapshot stored closure, same discipline as [[starClosure]]
    // — and derived, not walked: (^p)+ from the seeds is the
    // TRANSPOSE of the full forward closure restricted to seed
    // sources ({(s,d) : d →+ s}), so the shared [[fullClosure]]
    // artifact answers it with a projection swap + broadcast
    // semi-join, no second fixpoint.
    graft.SnapshotMemo.getOrCompute(s, s"inv-plus-closure:$d")(
      Fixpoint.ser(fullClosure(s, d)
        .select(col("dst").as("src"), col("src").as("dst"))
        .join(broadcast(starSeeds(s, d)), Seq("src"), "left_semi")))

  /** SPARQL composed path `def:succ/def:quad+` — SEQUENCE INTO
    * CLOSURE. The closure's SEED SET is derived from step-1's
    * objects (the mids), so the fixpoint walks only from nodes the
    * sequence can actually reach — the composition PRUNES the walk
    * rather than closing the whole graph and joining after. Final
    * assembly is one equi-join of the (src, mid) step against the
    * (mid, dst) closure, distinct on (src, dst) because two mids can
    * reach the same dst. Step 1 is successor edges (k → k+1)
    * restricted to typed seeds; step 2 is the doubling fixture
    * walked unbounded (back-edge cycles included, so a mid's orbit
    * can cycle back to the mid itself — those pairs are kept:
    * `p2+` reaches them in ≥ 1 step). */
  private def pathSeqPlus(s: SparkSession, d: String): DataFrame = {
    val item = "http://ex.org/item/"
    val p = graft.Tables(s, d, "part").select(col("p_partkey").as("k"))
    val mx = broadcast(p.agg(max(col("k")).as("mx")))
    val succ = p.crossJoin(mx).filter(col("k") + 1 <= col("mx"))
      .select(concat(lit(item), col("k")).as("src"),
        concat(lit(item), col("k") + 1).as("mid"))
      .join(starSeeds(s, d), Seq("src"), "left_semi")
    val mids = succ.select(col("mid").as("src")).distinct()
    // the mid-seeded closure is the expensive leg — stored per
    // snapshot ([[starClosure]] discipline) and DERIVED from the
    // shared [[fullClosure]] base by a semi-join on the mids (a mid
    // with no outgoing doubling edge has an empty orbit either way);
    // the final equi-join stays live so the query still exercises
    // the assembly
    val closure = graft.SnapshotMemo.getOrCompute(s,
      s"seq-plus-closure:$d")(
      Fixpoint.ser(fullClosure(s, d)
        .join(broadcast(mids), Seq("src"), "left_semi")
        .select(col("src").as("mid"), col("dst"))))
    succ.join(closure, Seq("mid"))
      .select(col("src"), col("dst")).distinct()
  }

  /** Week-over-week snapshot diff: the reference re-exports and
    * OVERWRITES the published graph weekly (yml:87); the first thing
    * an operator asks of two consecutive snapshots is "what changed".
    * v2 is a deterministic edit script over the fixture (both engines
    * replay it byte-for-byte): ~1/19 of triples deleted by a
    * char-length hash, titles with length(obj_value) % 7 = 0
    * rewritten with a " v2" suffix. Diff = EXCEPT both ways, tagged.
    * EXCEPT DISTINCT treats NULLs as equal in both engines (same
    * guarantee rdf_removed_by_clean relies on).
    *
    * At 100 TB each EXCEPT is one full-width exchange; two snapshots
    * bucket-partitioned by subject at write time make the diff
    * co-located instead. */
  private def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = tri(s, d)
    val deleted = (length(col("subject")) + length(col("predicate")) +
      length(col("obj_value"))) % 19 === 0
    val modified = col("predicate") === DctermsTitle &&
      length(col("obj_value")) % 7 === 0
    val v2 = v1.filter(!deleted).withColumn("obj_value",
      when(modified, concat(col("obj_value"), lit(" v2")))
        .otherwise(col("obj_value")))
    v2.except(v1).withColumn("change", lit("added"))
      .union(v1.except(v2).withColumn("change", lit("removed")))
  }

  /** The incremental form of O14: the fetch list for THIS run is the
    * current export's normalized monument keys MINUS the keys the
    * stored enrichment snapshot already covers (its
    * dcterms:identifier values). The reference re-fetches every key
    * weekly (one HTTP GET per triple occurrence — bugs B5/N+1);
    * the engine's batch form already dedups keys, and this delta
    * form makes the weekly run proportional to CHANGE, not corpus.
    * One anti-join on the key: the stored-key side is
    * dimension-scale, so AQE broadcasts it; at a scale where it no
    * longer fits, the same anti-join shuffles on the key — either
    * way the export side is scanned once. */
  private def enrichDelta(s: SparkSession, d: String): DataFrame = {
    val covered = TripleFixture.enrichment(s, d)
      .filter(col("predicate") === DctermsIdentifier)
      .select(col("obj_value").as("monument_key")).distinct()
    RdfOps.enrichmentKeys(tri(s, d))
      .join(covered, Seq("monument_key"), "left_anti")
  }

  /** Conf key for the enrichment TTL; default 7 (the reference's
    * weekly re-fetch cadence, transform_datamodel.py:88–101). */
  val enrichTtlConf = "spark.graft.enrich.ttlDays"

  /** The TTL both sides of the `rdf_enrich_stale` check use: the
    * engine query reads the session conf, and [[oracleSql]] (a def,
    * re-rendered per dump) resolves the SAME conf via the active
    * session — a non-default TTL moves the engine result AND the
    * oracle predicate together instead of guaranteeing a hash
    * mismatch. Falls back to the default off-session (oracle dumps
    * always run with the query session active). */
  private def resolvedEnrichTtl: Int =
    SparkSession.getActiveSession
      .map(_.conf.get(enrichTtlConf, "7")).getOrElse("7").toInt

  /** [[RdfOps.enrichmentFetchList]] over the fixture's export keys
    * and fetch ledger: the TTL-aware incremental form of O14. */
  private def enrichStale(s: SparkSession, d: String): DataFrame = {
    val ttl = s.conf.get(enrichTtlConf, "7").toInt
    RdfOps.enrichmentFetchList(RdfOps.enrichmentKeys(tri(s, d)),
      TripleFixture.enrichmentLedger(s, d), ttl)
  }

  /** O10 — single-row stage metrics (reference: `len(graph)` at
    * src/transform_datamodel.py:85,123,127): one map-side pass with
    * conditional sums, no per-stage jobs. */
  def counts(s: SparkSession, d: String): DataFrame = {
    val df = tri(s, d)
    df.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("subject").contains("@context") ||
        col("obj_value").contains("@context"), 1L).otherwise(0L))
        .as("n_context_leaks"),
      sum(when(col("predicate").isin(filterList: _*), 1L).otherwise(0L))
        .as("n_filtered_preds"),
      countDistinct(col("subject")).as("n_subjects"))
  }

  // ---- DuckDB oracle SQL ----

  private val iriOk = IriUtil.sqlPredicate _

  /** The cleaning pass as SQL CTEs (shared by several oracles). */
  private def cleanCte: String =
    s"""base AS (
       |  SELECT * FROM triples
       |  WHERE subject NOT LIKE '%@context%'
       |    AND obj_value NOT LIKE '%@context%'
       |    AND ${iriOk("subject")}
       |    AND (obj_kind <> 'iri' OR ${iriOk("obj_value")})),
       |clean AS (
       |  SELECT * FROM base t
       |  WHERE NOT EXISTS (SELECT 1 FROM base c
       |    WHERE c.predicate = '$RdfType'
       |      AND c.obj_value LIKE '%customvocab%'
       |      AND c.subject = t.obj_value))""".stripMargin

  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** Enrichment stage as SQL CTEs over input CTE `g`. */
  private def enrichCte(g: String): String =
    s"""enriched AS (
       |  SELECT DISTINCT * FROM (
       |    SELECT * FROM $g UNION ALL SELECT * FROM enrichment)),
       |typed AS (SELECT DISTINCT subject FROM enriched
       |  WHERE predicate = '$RdfType' AND obj_value = '$CeoRijksmonument'),
       |sameas AS (
       |  SELECT graph, subject, subject_kind, '$SdoSameAs' AS predicate,
       |         obj_value, obj_kind, obj_lang, obj_datatype
       |  FROM $g r
       |  WHERE predicate = '$CeoRijksmonumentnummer' AND obj_kind = 'literal'
       |    AND EXISTS (SELECT 1 FROM typed WHERE typed.subject = r.subject)),
       |post_enrich AS (
       |  SELECT DISTINCT * FROM (
       |    SELECT * FROM enriched UNION ALL SELECT * FROM sameas))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "rdf_clean_export" ->
      s"""WITH ${TripleFixture.triplesCte},
         |$cleanCte
         |SELECT * FROM clean""".stripMargin,

    "rdf_removed_by_clean" ->
      s"""WITH ${TripleFixture.triplesCte},
         |$cleanCte
         |SELECT * FROM triples EXCEPT SELECT * FROM clean""".stripMargin,

    "rdf_apply_mapping" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT graph, subject, subject_kind,
         |  CASE WHEN predicate = '$DctermsTitle' THEN '$SdoName'
         |       ELSE predicate END AS predicate,
         |  obj_value, obj_kind, obj_lang, obj_datatype
         |FROM triples""".stripMargin,

    "rdf_apply_filter" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT * FROM triples
         |WHERE predicate NOT IN ${inList(filterList)}""".stripMargin,

    "rdf_union_dedup" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte}
         |SELECT DISTINCT * FROM (
         |  SELECT * FROM triples UNION ALL SELECT * FROM enrichment)""".stripMargin,

    "rdf_enrich_keys" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT
         |  CASE WHEN obj_value LIKE 'RM%' THEN substring(obj_value, 3)
         |       ELSE obj_value END AS monument_key
         |FROM triples
         |WHERE predicate = '$CeoRijksmonumentnummer'
         |  AND obj_kind = 'literal'""".stripMargin,

    "rdf_enrich_sameas" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |${enrichCte("triples")}
         |SELECT * FROM post_enrich""".stripMargin,

    "rdf_counts" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN subject LIKE '%@context%'
         |    OR obj_value LIKE '%@context%' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_context_leaks,
         |  CAST(SUM(CASE WHEN predicate IN ${inList(filterList)}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_filtered_preds,
         |  CAST(COUNT(DISTINCT subject) AS BIGINT) AS n_subjects
         |FROM triples""".stripMargin,

    "rdf_turtle_roundtrip" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT * FROM triples""".stripMargin,

    "rdf_turtle_chunked" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT * FROM triples""".stripMargin,

    "rdf_pipeline_e2e" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$cleanCte,
         |${enrichCte("clean")}
         |SELECT * FROM (
         |  SELECT graph, subject, subject_kind,
         |    CASE WHEN predicate = '$DctermsTitle' THEN '$SdoName'
         |         ELSE predicate END AS predicate,
         |    obj_value, obj_kind, obj_lang, obj_datatype
         |  FROM post_enrich)
         |WHERE predicate NOT IN ${inList(filterList)}""".stripMargin,

    "rdf_graph_stats" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT graph, CAST(count(*) AS BIGINT) AS n_triples,
         |  CAST(count(DISTINCT subject) AS BIGINT) AS n_subjects,
         |  CAST(count(DISTINCT predicate) AS BIGINT) AS n_predicates,
         |  CAST(sum(CASE WHEN obj_kind = 'literal' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_literals
         |FROM mg GROUP BY graph""".stripMargin,

    "rdf_graph_overlap" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT subject, predicate, obj_value,
         |  CAST(count(DISTINCT graph) AS BIGINT) AS n_graphs
         |FROM mg GROUP BY 1, 2, 3
         |HAVING count(DISTINCT graph) > 1""".stripMargin,

    // Deliberately the NAIVE spelling — one self-join per pattern —
    // so the oracle is structurally independent of the engine's
    // single-shuffle pivot evaluation of the same BGP.
    "rdf_bgp_star" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item, ti.obj_value AS title,
         |  m.obj_value AS monument_number,
         |  CAST(z.obj_value AS INT) AS part_size
         |FROM triples ty
         |JOIN triples ti ON ti.subject = ty.subject
         |  AND ti.predicate = '$DctermsTitle'
         |JOIN triples m ON m.subject = ty.subject
         |  AND m.predicate = '$CeoRijksmonumentnummer'
         |JOIN triples z ON z.subject = ty.subject
         |  AND z.predicate = 'http://ex.org/def#size'
         |  AND TRY_CAST(z.obj_value AS INT) >= 25
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'""".stripMargin,

    "rdf_construct" ->
      s"""WITH ${TripleFixture.triplesCte},
         |m AS (
         |  SELECT ty.subject, ti.obj_value AS title, mn.obj_value AS mon
         |  FROM triples ty
         |  JOIN triples ti ON ti.subject = ty.subject
         |    AND ti.predicate = '$DctermsTitle'
         |  JOIN triples mn ON mn.subject = ty.subject
         |    AND mn.predicate = '$CeoRijksmonumentnummer'
         |  WHERE ty.predicate = '$RdfType'
         |    AND ty.obj_value = '$CeoRijksmonument')
         |SELECT DISTINCT * FROM (
         |  SELECT 'default' AS graph, subject, 'iri' AS subject_kind,
         |    '$SdoName' AS predicate, title AS obj_value,
         |    'literal' AS obj_kind, 'nl' AS obj_lang,
         |    CAST(NULL AS VARCHAR) AS obj_datatype FROM m
         |  UNION ALL
         |  SELECT 'default', subject, 'iri', '$SdoSameAs', mon,
         |    'literal', NULL, NULL FROM m)""".stripMargin,

    "rdf_ask" ->
      s"""WITH ${TripleFixture.triplesCte},
         |$cleanCte
         |SELECT
         |  SUM(CASE WHEN subject LIKE '%@context%'
         |    OR obj_value LIKE '%@context%' THEN 1 ELSE 0 END) > 0
         |    AS any_context_leak,
         |  SUM(CASE WHEN predicate = '$CeoRijksmonumentnummer'
         |    THEN 1 ELSE 0 END) > 0 AS any_rmnr
         |FROM clean""".stripMargin,

    "rdf_describe" ->
      s"""WITH ${TripleFixture.triplesCte},
         |m AS (SELECT DISTINCT r.subject FROM triples r
         |  WHERE r.predicate = '$CeoRijksmonumentnummer'
         |    AND EXISTS (SELECT 1 FROM triples pb
         |      WHERE pb.subject = r.subject
         |        AND pb.predicate = '$OmekaIsPublic'
         |        AND pb.obj_value = 'true'))
         |SELECT t.* FROM triples t
         |WHERE EXISTS (SELECT 1 FROM m WHERE m.subject = t.subject)"""
        .stripMargin,

    "rdf_bgp_minus" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item, ti.obj_value AS title
         |FROM triples ty
         |LEFT JOIN triples ti ON ti.subject = ty.subject
         |  AND ti.predicate = '$DctermsTitle'
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'
         |  AND NOT EXISTS (SELECT 1 FROM triples tp
         |    WHERE tp.subject = ty.subject
         |      AND tp.predicate = '$OmekaResourceTemplate')""".stripMargin,

    "rdf_enrich_delta" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte}
         |SELECT DISTINCT
         |  CASE WHEN obj_value LIKE 'RM%' THEN substring(obj_value, 3)
         |       ELSE obj_value END AS monument_key
         |FROM triples
         |WHERE predicate = '$CeoRijksmonumentnummer'
         |  AND obj_kind = 'literal'
         |EXCEPT
         |SELECT obj_value FROM enrichment
         |WHERE predicate = '$DctermsIdentifier'""".stripMargin,

    "rdf_enrich_stale" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentLedgerCte},
         |ek AS (
         |  SELECT DISTINCT
         |    CASE WHEN obj_value LIKE 'RM%' THEN substring(obj_value, 3)
         |         ELSE obj_value END AS monument_key
         |  FROM triples
         |  WHERE predicate = '$CeoRijksmonumentnummer'
         |    AND obj_kind = 'literal')
         |SELECT monument_key, 'missing' AS reason FROM ek
         |WHERE monument_key NOT IN (SELECT monument_key FROM ledger)
         |UNION ALL
         |SELECT ek.monument_key, 'stale' AS reason
         |FROM ek JOIN ledger l ON l.monument_key = ek.monument_key
         |WHERE l.age_days >= $resolvedEnrichTtl""".stripMargin,

    "rdf_bgp_optional" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item, ti.obj_value AS title,
         |  tpl.obj_value AS template
         |FROM triples ty
         |JOIN triples ti ON ti.subject = ty.subject
         |  AND ti.predicate = '$DctermsTitle'
         |LEFT JOIN triples tpl ON tpl.subject = ty.subject
         |  AND tpl.predicate = '$OmekaResourceTemplate'
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'""".stripMargin,

    // Oracle for the TEXT front-end's canonical query: the naive
    // self-join spelling (structurally independent of the engine's
    // pivot), OPTIONAL as LEFT JOIN, the numeric FILTER as TRY_CAST.
    "rdf_sparql_select" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item, ti.obj_value AS title,
         |  tpl.obj_value AS template,
         |  CAST(z.obj_value AS INT) AS part_size
         |FROM triples ty
         |JOIN triples ti ON ti.subject = ty.subject
         |  AND ti.predicate = '$DctermsTitle'
         |JOIN triples z ON z.subject = ty.subject
         |  AND z.predicate = 'http://ex.org/def#size'
         |  AND TRY_CAST(z.obj_value AS INT) >= 10
         |LEFT JOIN triples tpl ON tpl.subject = ty.subject
         |  AND tpl.predicate = '$OmekaResourceTemplate'
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'""".stripMargin,

    "rdf_sparql_union" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS value FROM triples
         |WHERE predicate IN ('$DctermsTitle',
         |  'http://ex.org/def#brand')""".stripMargin,

    // the heterogeneous branches stay separate scans with NULL
    // padding — UNION ALL mirrors SPARQL's multiset union
    "rdf_sparql_union_het" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS title,
         |  CAST(NULL AS VARCHAR) AS brand
         |FROM triples WHERE predicate = '$DctermsTitle'
         |UNION ALL
         |SELECT subject AS item, CAST(NULL AS VARCHAR) AS title,
         |  obj_value AS brand
         |FROM triples WHERE predicate = 'http://ex.org/def#brand'""".stripMargin,

    "rdf_sparql_agg" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand, COUNT(*) AS n_items,
         |       MIN(b.subject) AS first_item
         |FROM triples b
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = b.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')
         |GROUP BY b.obj_value""".stripMargin,

    // like rdf_path_seq but WITHOUT the obj_kind restriction: the
    // front-end's sequence step keeps plain SPARQL value-join
    // semantics (a literal object joins by equality if anything
    // subjects under it — nothing does in the fixture, so the rows
    // agree; the SQL mirrors the engine exactly either way)
    "rdf_sparql_path" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT r.subject AS src, t.obj_value AS title
         |FROM triples r
         |JOIN triples t ON t.subject = r.obj_value
         |  AND t.predicate = '$DctermsTitle'
         |WHERE r.predicate = '$DctermsRelation'""".stripMargin,

    "rdf_sparql_path_inv" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT r.obj_value AS item, r.subject AS pointer
         |FROM triples r
         |WHERE r.predicate = '$DctermsRelation'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = r.obj_value
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    // pairs-only recursion (cycle-safe), seeded from every edge
    // source — the `?src p+ ?dst` binding set; closure steps walk
    // the IRI-object graph only, mirrored by the obj_kind filter
    "rdf_sparql_path_plus" ->
      s"""WITH ${TripleFixture.triplesCte},
         |edges AS (SELECT subject AS src, obj_value AS dst FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri')
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT src, dst FROM edges
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN edges e ON e.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    // the same composition-ladder spelling as rdf_path_bounded, on
    // the store's relation edges: R2..R4 unrolled, in-range union
    "rdf_sparql_path_bounded" ->
      s"""WITH ${TripleFixture.triplesCte},
         |e1 AS (SELECT DISTINCT subject AS src, obj_value AS dst
         |  FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri'),
         |r2 AS (SELECT DISTINCT a.src, e.dst
         |  FROM e1 a JOIN e1 e ON a.dst = e.src),
         |r3 AS (SELECT DISTINCT a.src, e.dst
         |  FROM r2 a JOIN e1 e ON a.dst = e.src),
         |r4 AS (SELECT DISTINCT a.src, e.dst
         |  FROM r3 a JOIN e1 e ON a.dst = e.src)
         |SELECT DISTINCT src, dst FROM (
         |  SELECT * FROM r2 UNION ALL SELECT * FROM r3
         |  UNION ALL SELECT * FROM r4)""".stripMargin,

    // both engines apply OFFSET before LIMIT over the same total
    // order (item, title unique per triple-set row); regexp_matches
    // and contains are DuckDB's spellings of rlike/contains — the
    // patterns used are dialect-common
    "rdf_sparql_text_filters" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS title FROM triples
         |WHERE predicate = '$DctermsTitle' AND obj_lang = 'nl'
         |  AND contains(obj_value, 'a')
         |  AND regexp_matches(obj_value, '^[a-z]')
         |ORDER BY subject, obj_value LIMIT 50 OFFSET 10""".stripMargin,

    // the parsed VALUES query must agree with the independent inline
    // CTE spelling (the same oracle shape rdf_values_join replays)
    "rdf_sparql_values" ->
      s"""WITH ${TripleFixture.triplesCte},
         |vals(brand) AS (VALUES ('Brand#13'), ('Brand#32'), ('Brand#55'))
         |SELECT b.subject AS item, b.obj_value AS brand,
         |       t.obj_value AS title
         |FROM triples b
         |JOIN vals v ON v.brand = b.obj_value
         |JOIN triples t ON t.subject = b.subject
         |  AND t.predicate = '$DctermsTitle'
         |WHERE b.predicate = 'http://ex.org/def#brand'""".stripMargin,

    // the parsed BIND query must agree with the independent scalar
    // spelling (rdf_bind_strfuns' oracle shape; obj_kind = 'literal'
    // is implied by obj_lang = 'nl' — language tags only exist on
    // literals — so the conjunct is a no-op both engines share)
    "rdf_sparql_bind" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS title,
         |       upper(obj_value) AS title_uc,
         |       CAST(length(obj_value) AS BIGINT) AS title_len,
         |       replace(obj_value, ' ', '_') AS slug
         |FROM triples
         |WHERE predicate = '$DctermsTitle'
         |  AND obj_lang = 'nl' AND length(obj_value) >= 10""".stripMargin,

    // the parsed subquery keeps exact SPARQL multiset semantics on
    // the OPTIONAL (plain left join — no MIN collapse like the
    // hand-built subqueryTopN's titles CTE), so the oracle replays
    // the plain left join; ties in the top-5 are pinned by the
    // ASC(item) secondary key in both engines
    "rdf_sparql_subquery" ->
      s"""WITH ${TripleFixture.triplesCte},
         |top5 AS (
         |  SELECT subject, CAST(COUNT(*) AS BIGINT) AS n_triples
         |  FROM triples GROUP BY subject
         |  ORDER BY n_triples DESC, subject ASC LIMIT 5)
         |SELECT t.subject AS item, t.n_triples, ti.obj_value AS title
         |FROM top5 t LEFT JOIN triples ti ON ti.subject = t.subject
         |  AND ti.predicate = '$DctermsTitle'""".stripMargin,

    "rdf_sparql_pred_agg" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT predicate AS p, CAST(COUNT(*) AS BIGINT) AS n
         |FROM triples GROUP BY predicate""".stripMargin,

    "rdf_sparql_ask" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT EXISTS (SELECT 1 FROM triples r
         |  WHERE r.predicate = '$CeoRijksmonumentnummer'
         |    AND EXISTS (SELECT 1 FROM triples pb
         |      WHERE pb.subject = r.subject
         |        AND pb.predicate = '$OmekaIsPublic'
         |        AND pb.obj_value = 'true')) AS ask""".stripMargin,

    // template instantiation: the derived triples in the canonical
    // schema, object term metadata from the BINDING triple
    "rdf_sparql_construct" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT 'default' AS graph, r.subject,
         |  'iri' AS subject_kind, '$SdoSameAs' AS predicate,
         |  r.obj_value, r.obj_kind, r.obj_lang, r.obj_datatype
         |FROM triples r
         |WHERE r.predicate = '$CeoRijksmonumentnummer'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = r.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    "rdf_sparql_minus" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT t.subject AS item FROM triples t
         |WHERE t.predicate = '$RdfType'
         |  AND t.obj_value = '$CeoRijksmonument'
         |  AND NOT EXISTS (SELECT 1 FROM triples x
         |    WHERE x.subject = t.subject
         |      AND x.predicate = '$OmekaResourceTemplate')""".stripMargin,

    "rdf_sparql_exists" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT d.subject AS item, d.obj_value AS title,
         |  CAST(z.obj_value AS INT) AS size
         |FROM triples d
         |LEFT JOIN triples z ON z.subject = d.subject
         |  AND z.predicate = 'http://ex.org/def#size'
         |  AND TRY_CAST(z.obj_value AS INT) >= 30
         |WHERE d.predicate = '$DctermsTitle'
         |  AND NOT EXISTS (SELECT 1 FROM triples x
         |    WHERE x.subject = d.subject
         |      AND x.predicate = '$OmekaResourceTemplate')""".stripMargin,

    // negated set = predicate NOT IN, membership = EXISTS — the
    // complement evaluated as one filtered scan in both engines
    "rdf_sparql_negpath" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT t.subject AS item, t.obj_value AS value
         |FROM triples t
         |WHERE t.predicate NOT IN ('$RdfType', '$DctermsTitle',
         |    '$DctermsRelation', '$OmekaIsPublic')
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = t.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    // the inverted form replays IDENTICALLY modulo endpoint naming —
    // `^!S` IS the swapped `!S` scan
    "rdf_sparql_negpath_inv" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT t.subject AS item, t.obj_value AS value
         |FROM triples t
         |WHERE t.predicate NOT IN ('$RdfType', '$DctermsTitle',
         |    '$DctermsRelation', '$OmekaIsPublic')
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = t.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    // the spec's own mixed-set translation replayed as the two-scan
    // UNION ALL (multiset semantics): forward NPS + the
    // endpoint-swapped NPS of the inverse half
    "rdf_sparql_negpath_mixed" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT t.subject AS item, t.obj_value AS value
         |FROM triples t
         |WHERE t.predicate NOT IN ('$RdfType',
         |    'http://ex.org/def#brand', 'http://ex.org/def#size',
         |    '$OmekaIsPublic', '$OmekaResourceTemplate',
         |    '$OmekaResourceClass')
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = t.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')
         |UNION ALL
         |SELECT t.obj_value AS item, t.subject AS value
         |FROM triples t
         |WHERE t.predicate NOT IN ('$DctermsTitle')
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = t.obj_value
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    // SAMPLE pinned to MIN (the engine's documented deterministic
    // choice — conforming, SPARQL leaves SAMPLE free)
    "rdf_sparql_distinct_agg" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand,
         |  COUNT(DISTINCT t.obj_value) AS n_templates,
         |  MIN(b.subject) AS an_item
         |FROM triples b
         |JOIN triples t ON t.subject = b.subject
         |  AND t.predicate = '$OmekaResourceTemplate'
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |GROUP BY 1""".stripMargin,

    "rdf_sparql_bound" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item, ti.obj_value AS title
         |FROM triples ty
         |JOIN triples ti ON ti.subject = ty.subject
         |  AND ti.predicate = '$DctermsTitle'
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'
         |  AND NOT EXISTS (SELECT 1 FROM triples tp
         |    WHERE tp.subject = ty.subject
         |      AND tp.predicate = '$OmekaResourceTemplate')""".stripMargin,

    // SUBSTR/STRAFTER replayed by position arithmetic (strpos is
    // 1-based and 0 on no-match in both engines); STRENDS as LIKE
    "rdf_sparql_strfuns" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item,
         |  substr(obj_value, 1, 3) AS pre,
         |  CASE WHEN strpos(obj_value, 'a') > 0
         |    THEN substr(obj_value, strpos(obj_value, 'a') + 1,
         |      length(obj_value))
         |    ELSE '' END AS tail
         |FROM triples
         |WHERE predicate = '$DctermsTitle'
         |  AND obj_value LIKE '%t'""".stripMargin,

    "rdf_sparql_coalesce" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT ty.subject AS item,
         |  COALESCE(tp.obj_value, 'no-template') AS label
         |FROM triples ty
         |LEFT JOIN triples tp ON tp.subject = ty.subject
         |  AND tp.predicate = '$OmekaResourceTemplate'
         |WHERE ty.predicate = '$RdfType'
         |  AND ty.obj_value = '$CeoRijksmonument'""".stripMargin,

    "rdf_sparql_arith" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item,
         |  CAST(obj_value AS BIGINT) * 3 + 7 AS scaled
         |FROM triples
         |WHERE predicate = 'http://ex.org/def#size'
         |  AND CAST(obj_value AS BIGINT) >= 10""".stripMargin,

    // AVG replayed in the same exact arithmetic: ×1000 then integer
    // floor-div by the group count — no float ever enters the row
    "rdf_sparql_avg" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand,
         |  CAST((SUM(CAST(z.obj_value AS INT)) * 1000)
         |    // COUNT(z.obj_value) AS BIGINT) AS avg_size_x1000,
         |  COUNT(*) AS n_items
         |FROM triples b JOIN triples z ON z.subject = b.subject
         |  AND z.predicate = 'http://ex.org/def#size'
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |GROUP BY 1""".stripMargin,

    // precedence replayed with SQL's own precedence rules
    "rdf_sparql_arith_paren" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item,
         |  (CAST(obj_value AS BIGINT) + 1) * 2 AS a,
         |  CAST(obj_value AS BIGINT) + 1 * 2 AS b
         |FROM triples
         |WHERE predicate = 'http://ex.org/def#size'""".stripMargin,

    // §13.2 FROM: the explicit default graph is the two-graph
    // merge — the graph filter replayed as a plain IN
    "rdf_sparql_from" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT subject AS s, obj_value AS t
         |FROM mg
         |WHERE predicate = '$DctermsTitle'
         |  AND graph IN ('http://ex.org/graph/0',
         |    'http://ex.org/graph/2')""".stripMargin,

    // §13.2 FROM NAMED: GRAPH ?g ranges over the named set only
    "rdf_sparql_from_named" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT graph AS g, CAST(COUNT(*) AS BIGINT) AS n
         |FROM mg
         |WHERE graph IN ('http://ex.org/graph/1',
         |  'http://ex.org/graph/enrich')
         |GROUP BY 1""".stripMargin,

    // OPTIONAL in a UNION branch: branch 1 is a plain LEFT JOIN
    // (multiset semantics, no MIN collapse), branch 2 null-pads
    "rdf_sparql_union_opt" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT t.subject AS item, t.obj_value AS title,
         |  r.obj_value AS tpl, CAST(NULL AS VARCHAR) AS brand
         |FROM triples t LEFT JOIN triples r
         |  ON r.subject = t.subject
         |  AND r.predicate = '$OmekaResourceTemplate'
         |WHERE t.predicate = '$DctermsTitle'
         |UNION ALL
         |SELECT subject, CAST(NULL AS VARCHAR),
         |  CAST(NULL AS VARCHAR), obj_value
         |FROM triples
         |WHERE predicate = 'http://ex.org/def#brand'""".stripMargin,

    "rdf_sparql_if_in" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS b,
         |  CASE WHEN obj_value = 'Brand#4' THEN 'flag'
         |       ELSE 'other' END AS bucket
         |FROM triples
         |WHERE predicate = 'http://ex.org/def#brand'
         |  AND obj_value IN ('Brand#4', 'Brand#19')""".stripMargin,

    // §17.4.2 literal-metadata rules replayed relationally: LANG of
    // a literal is coalesce(lang, ''), DATATYPE defaults to
    // xsd:string / rdf:langString, both NULL (unbound) on IRIs
    "rdf_sparql_termfns" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, predicate AS p, obj_value AS sv,
         |  CASE WHEN obj_kind = 'literal'
         |    THEN coalesce(obj_lang, '') END AS lg,
         |  CASE WHEN obj_kind = 'literal'
         |    THEN coalesce(obj_datatype,
         |      CASE WHEN obj_lang IS NOT NULL
         |        THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'
         |        ELSE 'http://www.w3.org/2001/XMLSchema#string' END)
         |    END AS dt
         |FROM triples""".stripMargin,

    "rdf_sparql_iskind" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS o
         |FROM triples WHERE obj_kind = 'literal'""".stripMargin,

    "rdf_sparql_disjunction" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT tb.subject AS item, tb.obj_value AS b,
         |  CAST(ts.obj_value AS INT) AS sz
         |FROM triples tb JOIN triples ts ON ts.subject = tb.subject
         |  AND ts.predicate = 'http://ex.org/def#size'
         |WHERE tb.predicate = 'http://ex.org/def#brand'
         |  AND (tb.obj_value = 'Brand#4'
         |    OR CAST(ts.obj_value AS INT) >= 45)""".stripMargin,

    "rdf_sparql_varcmp" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT a.subject AS i1, b.subject AS i2
         |FROM triples a JOIN triples b ON a.obj_value = b.obj_value
         |WHERE a.predicate = 'http://ex.org/def#brand'
         |  AND b.predicate = 'http://ex.org/def#brand'
         |  AND a.subject < b.subject""".stripMargin,

    // the recursion runs over the COMPOSED (two-hop) edge set — the
    // independent restatement of "closure over a sequence"
    "rdf_sparql_seq_closure" ->
      s"""WITH ${TripleFixture.triplesCte},
         |e AS (SELECT subject AS src, obj_value AS dst FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri'),
         |e2 AS (SELECT e1.src, e2.dst
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src)
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT src, dst FROM e2
         |    UNION
         |    SELECT w.src, g.dst FROM walk w
         |    JOIN e2 g ON g.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    // the (monument -> item) mapping replayed: RM-prefix-normalized
    // rmnr literals name the enrichment's monument IRIs; both term
    // positions rewrite through it, IRI objects only
    "rdf_smush_entities" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |g AS (SELECT * FROM triples
         |  UNION ALL SELECT * FROM enrichment),
         |map AS (SELECT DISTINCT subject AS item,
         |    '${TripleFixture.MonNs}' ||
         |    (CASE WHEN obj_value LIKE 'RM%' THEN substring(obj_value, 3)
         |      ELSE obj_value END) AS mon
         |  FROM triples WHERE predicate = '$CeoRijksmonumentnummer')
         |SELECT DISTINCT g.graph,
         |  coalesce(ms.item, g.subject) AS subject,
         |  g.subject_kind, g.predicate,
         |  CASE WHEN g.obj_kind = 'iri' THEN coalesce(mo.item, g.obj_value)
         |    ELSE g.obj_value END AS obj_value,
         |  g.obj_kind, g.obj_lang, g.obj_datatype
         |FROM g
         |LEFT JOIN map ms ON ms.mon = g.subject
         |LEFT JOIN map mo ON mo.mon = g.obj_value
         |  AND g.obj_kind = 'iri'""".stripMargin,

    // the subclass chain's recursive closure joined onto asserted
    // types; asserted ∪ inferred needs no dedup (acyclic chain, one
    // asserted class per instance)
    "rdf_rdfs_types" ->
      s"""WITH edges AS (
         |  SELECT '$OntoClassNs' || p_size AS src,
         |         '$OntoClassNs' || (p_size + 1) AS dst
         |  FROM (SELECT DISTINCT p_size FROM part)),
         |closure AS (
         |  SELECT src, dst FROM (
         |    WITH RECURSIVE walk AS (
         |      SELECT src, dst FROM edges
         |      UNION
         |      SELECT w.src, e.dst FROM walk w
         |      JOIN edges e ON e.src = w.dst)
         |    SELECT * FROM walk)),
         |asserted AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS subject,
         |         '$OntoClassNs' || p_size AS cls
         |  FROM part)
         |SELECT subject, cls FROM asserted
         |UNION ALL
         |SELECT a.subject, c.dst AS cls
         |FROM asserted a JOIN closure c ON c.src = a.cls""".stripMargin,

    // the stratified ρdf rule DAG replayed: two recursive chain
    // closures, sp-rewrite first, dom/range over the sp-CLOSED set,
    // sc-expansion, set dedup last
    "rdf_rdfs_entail" -> rdfsEntailOracle("TRUE"),
    // same DAG, instance CTE filtered to the arriving shard — the
    // ontology (sizes) stays full-vocabulary: sharing the rule SQL
    // IS the incremental contract
    "rdf_rdfs_incremental" -> rdfsEntailOracle("p_partkey % 10 = 7"),
    // the per-class census over the same entailed set
    "rdf_sparql_entailed" ->
      s"""SELECT obj AS c, CAST(count(*) AS BIGINT) AS n
         |FROM (${rdfsEntailOracle("TRUE")})
         |WHERE predicate = '$RdfType'
         |GROUP BY 1""".stripMargin,
  ) ++ oracleSqlRest

  private def rdfsEntailOracle(instanceFilter: String): String =
      s"""WITH sizes AS (SELECT DISTINCT p_size AS v FROM part),
         |spe AS (SELECT '$OntoPropNs' || v AS src,
         |    '$OntoPropNs' || (v + 1) AS dst FROM sizes),
         |sce AS (SELECT '$OntoClassNs' || v AS src,
         |    '$OntoClassNs' || (v + 1) AS dst FROM sizes),
         |spc AS (SELECT src, dst FROM (
         |  WITH RECURSIVE w AS (
         |    SELECT src, dst FROM spe
         |    UNION
         |    SELECT w.src, e.dst FROM w JOIN spe e ON e.src = w.dst)
         |  SELECT * FROM w)),
         |scc AS (SELECT src, dst FROM (
         |  WITH RECURSIVE w AS (
         |    SELECT src, dst FROM sce
         |    UNION
         |    SELECT w.src, e.dst FROM w JOIN sce e ON e.src = w.dst)
         |  SELECT * FROM w)),
         |dom AS (SELECT '$OntoPropNs' || v AS p,
         |    '$OntoClassNs' || v AS c FROM sizes WHERE v % 5 = 0),
         |rng AS (SELECT '$OntoPropNs' || v AS p,
         |    '$OntoClassNs' || (v + 1) AS c FROM sizes WHERE v % 7 = 0),
         |t AS (SELECT 'http://ex.org/item/' || p_partkey AS s,
         |    '$OntoPropNs' || p_size AS p,
         |    'http://ex.org/item/' || (p_partkey * 2) AS o FROM part
         |  WHERE $instanceFilter),
         |spx AS (SELECT s, p, o FROM t
         |  UNION ALL
         |  SELECT t.s, c.dst AS p, t.o FROM t JOIN spc c ON c.src = t.p),
         |seeds AS (SELECT x.s AS x, dom.c FROM spx x JOIN dom ON dom.p = x.p
         |  UNION ALL
         |  SELECT x.o AS x, rng.c FROM spx x JOIN rng ON rng.p = x.p),
         |types AS (SELECT x, c FROM seeds
         |  UNION ALL
         |  SELECT sd.x, cc.dst AS c FROM seeds sd
         |  JOIN scc cc ON cc.src = sd.c)
         |SELECT DISTINCT subject, predicate, obj FROM (
         |  SELECT s AS subject, p AS predicate, o AS obj FROM spx
         |  UNION ALL
         |  SELECT x AS subject, '$RdfType' AS predicate, c AS obj
         |  FROM types)""".stripMargin

  private def oracleSqlRest: Map[String, String] = Map(
    "rdf_sparql_path_opt" ->
      s"""WITH ${TripleFixture.triplesCte},
         |edges AS (SELECT subject AS src, obj_value AS dst FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri'),
         |nodes AS (SELECT src FROM edges UNION SELECT dst FROM edges)
         |SELECT DISTINCT src, dst FROM (
         |  SELECT src, src AS dst FROM nodes
         |  UNION ALL SELECT src, dst FROM edges)""".stripMargin,

    "rdf_sparql_graph" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT graph AS g, CAST(COUNT(*) AS BIGINT) AS n
         |FROM mg WHERE predicate = '$DctermsTitle'
         |GROUP BY 1""".stripMargin,

    // zero-length self rows for every edge-incident node + the
    // recursive pair closure (nested WITH RECURSIVE as elsewhere)
    "rdf_sparql_path_star" ->
      s"""WITH ${TripleFixture.triplesCte},
         |edges AS (SELECT subject AS src, obj_value AS dst FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri'),
         |nodes AS (SELECT src FROM edges UNION SELECT dst FROM edges)
         |SELECT DISTINCT src, dst FROM (
         |  SELECT src, src AS dst FROM nodes
         |  UNION ALL
         |  SELECT src, dst FROM (
         |    WITH RECURSIVE walk AS (
         |      SELECT src, dst FROM edges
         |      UNION
         |      SELECT w.src, e.dst FROM walk w
         |      JOIN edges e ON e.src = w.dst)
         |    SELECT * FROM walk))""".stripMargin,

    // rename replayed as a projection: DELETE-then-INSERT of the
    // same match set == CASE on the predicate, set-deduped
    "rdf_update_rename" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT graph, subject, subject_kind,
         |  CASE WHEN predicate = '$DctermsTitle' THEN '$SdoName'
         |    ELSE predicate END AS predicate,
         |  obj_value, obj_kind, obj_lang, obj_datatype
         |FROM triples""".stripMargin,

    "rdf_update_delete_where" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT * FROM triples
         |WHERE predicate <> '$OmekaResourceClass'""".stripMargin,

    "rdf_update_insert_data" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT * FROM (
         |  SELECT * FROM triples
         |  UNION ALL SELECT 'default', 'http://ex.org/meta/run', 'iri',
         |    '$DctermsIdentifier', 'run-12', 'literal', NULL, NULL
         |  UNION ALL SELECT 'default', 'http://ex.org/meta/run', 'iri',
         |    '${Vocab.RdfType}', 'http://ex.org/def#EtlRun', 'iri',
         |    NULL, NULL)""".stripMargin,

    // graph management replayed as graph-column algebra over the
    // same mg store — an engine that relabels the wrong side, skips
    // the set dedup, or forgets MOVE's source removal hash-mismatches
    "rdf_update_clear_graph" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT * FROM mg
         |WHERE graph <> 'http://ex.org/graph/1'""".stripMargin,

    "rdf_update_copy_graph" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT DISTINCT * FROM (
         |  SELECT * FROM mg WHERE graph <> 'http://ex.org/graph/2'
         |  UNION ALL
         |  SELECT 'http://ex.org/graph/2', subject, subject_kind,
         |    predicate, obj_value, obj_kind, obj_lang, obj_datatype
         |  FROM mg WHERE graph = 'http://ex.org/graph/0')""".stripMargin,

    "rdf_update_move_graph" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT DISTINCT * FROM (
         |  SELECT * FROM mg
         |  WHERE graph <> 'http://ex.org/graph/0'
         |    AND graph <> 'http://ex.org/graph/enrich'
         |  UNION ALL
         |  SELECT 'http://ex.org/graph/0', subject, subject_kind,
         |    predicate, obj_value, obj_kind, obj_lang, obj_datatype
         |  FROM mg
         |  WHERE graph = 'http://ex.org/graph/enrich')""".stripMargin,

    "rdf_update_add_graph" ->
      s"""WITH ${TripleFixture.triplesCte},
         |${TripleFixture.enrichmentCte},
         |$multiGraphCte
         |SELECT DISTINCT * FROM (
         |  SELECT * FROM mg
         |  UNION ALL
         |  SELECT 'http://ex.org/graph/enrich', subject, subject_kind,
         |    predicate, obj_value, obj_kind, obj_lang, obj_datatype
         |  FROM mg WHERE graph = 'http://ex.org/graph/1')""".stripMargin,

    // same matched-resource set as rdf_describe's oracle
    "rdf_sparql_describe" ->
      s"""WITH ${TripleFixture.triplesCte},
         |m AS (SELECT DISTINCT r.subject FROM triples r
         |  WHERE r.predicate = '$CeoRijksmonumentnummer'
         |    AND EXISTS (SELECT 1 FROM triples pb
         |      WHERE pb.subject = r.subject
         |        AND pb.predicate = '$OmekaIsPublic'
         |        AND pb.obj_value = 'true'))
         |SELECT t.* FROM triples t
         |WHERE EXISTS (SELECT 1 FROM m WHERE m.subject = t.subject)"""
        .stripMargin,

    // DuckDB's native WITH RECURSIVE is the independent
    // implementation of the engine's semi-naive iteration; UNION
    // (distinct) bounds the walk, MIN collapses to first-discovery
    // hop counts. The recursive CTE is NESTED in a derived table:
    // a top-level `WITH RECURSIVE` makes DuckDB 1.0 mis-scope the
    // multi-CTE nested WITH inside the triples fixture CTE.
    "rdf_reachable" ->
      s"""WITH ${TripleFixture.triplesCte},
         |edges AS (SELECT subject AS src, obj_value AS dst FROM triples
         |  WHERE predicate = '$DctermsRelation' AND obj_kind = 'iri'),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT src, dst, CAST(MIN(hops) AS INT) AS hops FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT s.src, e.dst, 1 AS hops FROM seeds s
         |    JOIN edges e ON e.src = s.src
         |    UNION
         |    SELECT w.src, e.dst, w.hops + 1 FROM walk w
         |    JOIN edges e ON e.src = w.dst
         |    WHERE w.hops < 8)
         |  SELECT * FROM walk)
         |GROUP BY src, dst""".stripMargin,

    // The unbounded form: pairs-only recursion (no hops column in
    // the working table), so UNION's distinct reaches a fixpoint on
    // the finite pair set even through the fixture's real cycles —
    // the cycle-safe WITH RECURSIVE shape. Hop-0 self rows come from
    // the non-recursive anchor.
    "rdf_reachable_star" ->
      s"""WITH ${TripleFixture.triplesCte},
         |mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT src, src AS dst FROM seeds
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN edges e ON e.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    // composition ladder unrolled: R2 = E∘E, R3 = R2∘E, each level
    // set-deduped; the union of the in-range levels — no recursion,
    // a DIFFERENT spelling from the engine's loop
    "rdf_path_bounded" ->
      """WITH mxp AS (SELECT max(p_partkey) AS mx FROM part),
        |e1 AS (SELECT DISTINCT src, dst FROM (
        |  SELECT 'http://ex.org/item/' || p_partkey AS src,
        |         'http://ex.org/item/' || (p_partkey * 4) AS dst
        |  FROM part, mxp WHERE p_partkey * 4 <= mx
        |  UNION ALL
        |  SELECT 'http://ex.org/item/' || p_partkey,
        |         'http://ex.org/item/' || (p_partkey // 16)
        |  FROM part WHERE p_partkey % 16 = 0)),
        |r2 AS (SELECT DISTINCT a.src, e.dst
        |  FROM e1 a JOIN e1 e ON a.dst = e.src),
        |r3 AS (SELECT DISTINCT a.src, e.dst
        |  FROM r2 a JOIN e1 e ON a.dst = e.src)
        |SELECT DISTINCT src, dst FROM (
        |  SELECT * FROM r2 UNION ALL SELECT * FROM r3)""".stripMargin,

    "rdf_values_join" ->
      s"""WITH ${TripleFixture.triplesCte},
         |vals(brand) AS (VALUES ('Brand#13'), ('Brand#32'), ('Brand#55'))
         |SELECT b.subject AS item, b.obj_value AS brand,
         |       t.obj_value AS title
         |FROM triples b
         |JOIN vals v ON v.brand = b.obj_value
         |JOIN triples t ON t.subject = b.subject
         |  AND t.predicate = '$DctermsTitle'
         |WHERE b.predicate = 'http://ex.org/def#brand'""".stripMargin,

    "rdf_group_agg" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand, COUNT(*) AS n_items,
         |       MIN(b.subject) AS first_item
         |FROM triples b
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = b.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')
         |GROUP BY b.obj_value""".stripMargin,

    // GROUP_CONCAT with the order pinned lexicographic on both
    // sides (SPARQL leaves it implementation-defined; determinism
    // is the engine's documented choice)
    "rdf_group_concat" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand, COUNT(*) AS n_items,
         |       string_agg(DISTINCT b.subject, ';' ORDER BY b.subject)
         |         AS items_concat
         |FROM triples b
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = b.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')
         |GROUP BY b.obj_value""".stripMargin,

    "rdf_path_seq" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT r.subject AS src, t.obj_value AS title
         |FROM triples r
         |JOIN triples t ON t.subject = r.obj_value
         |  AND t.predicate = '$DctermsTitle'
         |WHERE r.predicate = '$DctermsRelation'
         |  AND r.obj_kind = 'iri'""".stripMargin,

    "rdf_path_alt" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT v.subject AS item, v.predicate AS via,
         |       v.obj_value AS value
         |FROM triples v
         |WHERE v.predicate IN ('$DctermsTitle', 'http://ex.org/def#brand')
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = v.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    "rdf_path_inv" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT r.obj_value AS item, r.subject AS pointer
         |FROM triples r
         |WHERE r.predicate = '$DctermsRelation' AND r.obj_kind = 'iri'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = r.obj_value
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')""".stripMargin,

    "rdf_path_opt" ->
      s"""WITH ${TripleFixture.triplesCte},
         |typed AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT DISTINCT src, dst FROM (
         |  SELECT src, src AS dst FROM typed
         |  UNION ALL
         |  SELECT r.subject, r.obj_value FROM triples r
         |  JOIN typed ty ON ty.src = r.subject
         |  WHERE r.predicate = '$DctermsRelation'
         |    AND r.obj_kind = 'iri')""".stripMargin,

    "rdf_path_nps" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT DISTINCT subject AS item, predicate AS via,
         |       obj_value AS value
         |FROM triples
         |WHERE predicate NOT IN ('$RdfType', '$OmekaIsPublic')"""
        .stripMargin,

    // full recompute over the UNION edge set — the independent
    // implementation the incremental engine path must equal
    "rdf_reachable_incr" ->
      s"""WITH ${TripleFixture.triplesCte},
         |mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey * 3)
         |  FROM part, mxp WHERE p_partkey % 10 = 0
         |    AND p_partkey * 3 <= mx),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT s.src, e.dst FROM seeds s
         |    JOIN edges e ON e.src = s.src
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN edges e ON e.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    // composed paths: each oracle recursion is built over the
    // composed edge set directly (union for (p1|p2)+, swapped
    // columns for (^p)+, a mid-anchored recursion for p1/p2+) — the
    // independent WITH RECURSIVE implementation of the engine's
    // compose-then-walk plans.
    "rdf_path_alt_plus" ->
      s"""WITH ${TripleFixture.triplesCte},
         |mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 3) AS dst
         |  FROM part, mxp WHERE p_partkey * 3 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey * 5)
         |  FROM part, mxp WHERE p_partkey * 5 <= mx),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT s.src, e.dst FROM seeds s
         |    JOIN edges e ON e.src = s.src
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN edges e ON e.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    "rdf_path_inv_plus" ->
      s"""WITH ${TripleFixture.triplesCte},
         |mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS (
         |  SELECT 'http://ex.org/item/' || (p_partkey * 4) AS src,
         |         'http://ex.org/item/' || p_partkey AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || (p_partkey // 16),
         |         'http://ex.org/item/' || p_partkey
         |  FROM part WHERE p_partkey % 16 = 0),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument')
         |SELECT src, dst FROM (
         |  WITH RECURSIVE walk AS (
         |    SELECT s.src, e.dst FROM seeds s
         |    JOIN edges e ON e.src = s.src
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN edges e ON e.src = w.dst)
         |  SELECT * FROM walk)""".stripMargin,

    "rdf_path_seq_plus" ->
      s"""WITH ${TripleFixture.triplesCte},
         |mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |qedges AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0),
         |seeds AS (SELECT DISTINCT subject AS src FROM triples
         |  WHERE predicate = '$RdfType'
         |    AND obj_value = '$CeoRijksmonument'),
         |succ AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey + 1) AS mid
         |  FROM part, mxp
         |  WHERE p_partkey + 1 <= mx
         |    AND 'http://ex.org/item/' || p_partkey IN
         |      (SELECT src FROM seeds))
         |SELECT DISTINCT u.src, w.dst FROM succ u JOIN (
         |  WITH RECURSIVE walk AS (
         |    SELECT m.mid AS src, e.dst
         |    FROM (SELECT DISTINCT mid FROM succ) m
         |    JOIN qedges e ON e.src = m.mid
         |    UNION
         |    SELECT w.src, e.dst FROM walk w
         |    JOIN qedges e ON e.src = w.dst)
         |  SELECT * FROM walk) w ON w.src = u.mid""".stripMargin,

    "rdf_snapshot_diff" ->
      s"""WITH ${TripleFixture.triplesCte},
         |v2 AS (
         |  SELECT graph, subject, subject_kind, predicate,
         |    CASE WHEN predicate = '$DctermsTitle'
         |           AND length(obj_value) % 7 = 0
         |         THEN obj_value || ' v2' ELSE obj_value END AS obj_value,
         |    obj_kind, obj_lang, obj_datatype
         |  FROM triples
         |  WHERE (length(subject) + length(predicate) + length(obj_value))
         |    % 19 <> 0)
         |SELECT *, 'added' AS change FROM (
         |  SELECT * FROM v2 EXCEPT SELECT * FROM triples)
         |UNION ALL
         |SELECT *, 'removed' AS change FROM (
         |  SELECT * FROM triples EXCEPT SELECT * FROM v2)""".stripMargin,

    "rdf_pagerank" -> {
      def step(i: Int) =
        s"""c$i AS (SELECT e.dst AS node,
           |    CAST(SUM(p.pr // o.odeg) AS BIGINT) AS contrib
           |  FROM edges e
           |  JOIN pr${i - 1} p ON p.node = e.src
           |  JOIN odeg o ON o.src = e.src
           |  GROUP BY e.dst),
           |pr$i AS (SELECT nodes.node,
           |    ((1000000000 // n) * 15) // 100
           |      + (85 * COALESCE(c$i.contrib, 0)) // 100 AS pr
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
      s"""WITH mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0),
         |odeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT node, 1000000000 // n AS pr
         |  FROM nodes CROSS JOIN nn),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node, CAST(pr AS BIGINT) AS pr_scaled FROM pr3""".stripMargin
    },

    // Fixed-depth replay of the converged variant: PrcCap generated
    // steps of the identical truncating recurrence with dangling
    // mass folded in; steps past the engine's limit-cycle entry are
    // periodic, and the engine's early exit picks the cap state by
    // modulo, so the hash still matches. EVERY recurring CTE is
    // MATERIALIZED: DuckDB otherwise inlines them — the base tables
    // into each of the 60 steps (observed EMFILE at step count ×
    // parquet scans), and, far worse, pr(i-1) into BOTH of step i's
    // consumers, doubling the inlined plan tree per step (observed
    // runaway planner at 2^60).
    "rdf_pagerank_converged" -> {
      def step(i: Int) =
        s"""dm$i AS MATERIALIZED (SELECT COALESCE(SUM(p.pr), 0) AS dm
           |  FROM pr${i - 1} p JOIN dang ON dang.node = p.node),
           |c$i AS MATERIALIZED (SELECT e.dst AS node,
           |    CAST(SUM(p.pr // o.odeg) AS BIGINT) AS contrib
           |  FROM edges e
           |  JOIN pr${i - 1} p ON p.node = e.src
           |  JOIN odeg o ON o.src = e.src
           |  GROUP BY e.dst),
           |pr$i AS MATERIALIZED (SELECT nodes.node,
           |    (($PrcScale // n) * 15) // 100
           |      + (85 * (COALESCE(c$i.contrib, 0) + (dm // n))) // 100
           |      AS pr
           |  FROM nodes CROSS JOIN nn CROSS JOIN dm$i
           |  LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
      s"""WITH mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS MATERIALIZED (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0),
         |odeg AS MATERIALIZED (
         |  SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |dang AS MATERIALIZED (SELECT node FROM nodes
         |  WHERE node NOT IN (SELECT src FROM edges)),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT node, $PrcScale // n AS pr
         |  FROM nodes CROSS JOIN nn),
         |${(1 to PrcCap).map(step).mkString(",\n")}
         |SELECT node, CAST(pr AS BIGINT) AS pr_scaled
         |FROM pr$PrcCap""".stripMargin
    },

    // Fixed-depth replay of the WARM-START definition: PrcCap base
    // steps from uniform (identical to rdf_pagerank_converged's
    // replay — that state IS the engine's stored warm init), then
    // PrcIncrCap posterior steps over the delta-extended graph from
    // it, new nodes entering at the posterior uniform share. The
    // engine's early exits align to both caps by modulo.
    "rdf_pagerank_incr" -> {
      def step(i: Int, pfx: String, prev: String, edges: String,
          odeg: String, nodes: String, dang: String, nn: String) =
        s"""${pfx}dm$i AS MATERIALIZED (
           |  SELECT COALESCE(SUM(p.pr), 0) AS dm
           |  FROM $prev p JOIN $dang ON $dang.node = p.node),
           |${pfx}c$i AS MATERIALIZED (SELECT e.dst AS node,
           |    CAST(SUM(p.pr // o.odeg) AS BIGINT) AS contrib
           |  FROM $edges e
           |  JOIN $prev p ON p.node = e.src
           |  JOIN $odeg o ON o.src = e.src
           |  GROUP BY e.dst),
           |${pfx}pr$i AS MATERIALIZED (SELECT $nodes.node,
           |    (($PrcScale // n) * 15) // 100
           |      + (85 * (COALESCE(${pfx}c$i.contrib, 0) + (dm // n)))
           |        // 100 AS pr
           |  FROM $nodes CROSS JOIN $nn CROSS JOIN ${pfx}dm$i
           |  LEFT JOIN ${pfx}c$i ON ${pfx}c$i.node = $nodes.node)"""
          .stripMargin
      def baseStep(i: Int) = step(i, "", s"pr${i - 1}", "edges",
        "odeg", "nodes", "dang", "nn")
      def warmStep(i: Int) = step(i, "w", if (i == 1) "w0"
      else s"wpr${i - 1}", "edges2", "odeg2", "nodes2", "dang2", "nn2")
      s"""WITH mxp AS (SELECT max(p_partkey) AS mx FROM part),
         |edges AS MATERIALIZED (
         |  SELECT 'http://ex.org/item/' || p_partkey AS src,
         |         'http://ex.org/item/' || (p_partkey * 4) AS dst
         |  FROM part, mxp WHERE p_partkey * 4 <= mx
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey // 16)
         |  FROM part WHERE p_partkey % 16 = 0),
         |odeg AS MATERIALIZED (
         |  SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |dang AS MATERIALIZED (SELECT node FROM nodes
         |  WHERE node NOT IN (SELECT src FROM edges)),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT node, $PrcScale // n AS pr
         |  FROM nodes CROSS JOIN nn),
         |${(1 to PrcCap).map(baseStep).mkString(",\n")},
         |edges2 AS MATERIALIZED (
         |  SELECT src, dst FROM edges
         |  UNION ALL
         |  SELECT 'http://ex.org/item/' || p_partkey,
         |         'http://ex.org/item/' || (p_partkey * 3)
         |  FROM part, mxp
         |  WHERE p_partkey % 10 = 0 AND p_partkey * 3 <= mx),
         |odeg2 AS MATERIALIZED (
         |  SELECT src, count(*) AS odeg FROM edges2 GROUP BY src),
         |nodes2 AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges2
         |  UNION ALL SELECT dst FROM edges2)),
         |dang2 AS MATERIALIZED (SELECT node FROM nodes2
         |  WHERE node NOT IN (SELECT src FROM edges2)),
         |nn2 AS MATERIALIZED (SELECT count(*) AS n FROM nodes2),
         |w0 AS MATERIALIZED (SELECT nodes2.node,
         |    COALESCE(b.pr, $PrcScale // n) AS pr
         |  FROM nodes2 CROSS JOIN nn2
         |  LEFT JOIN pr$PrcCap b ON b.node = nodes2.node),
         |${(1 to PrcIncrCap).map(warmStep).mkString(",\n")}
         |SELECT node, CAST(pr AS BIGINT) AS pr_scaled
         |FROM wpr$PrcIncrCap""".stripMargin
    },

    "rdf_group_having" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT b.obj_value AS brand, COUNT(*) AS n_items
         |FROM triples b
         |WHERE b.predicate = 'http://ex.org/def#brand'
         |  AND EXISTS (SELECT 1 FROM triples ty
         |    WHERE ty.subject = b.subject
         |      AND ty.predicate = '$RdfType'
         |      AND ty.obj_value = '$CeoRijksmonument')
         |GROUP BY b.obj_value
         |HAVING COUNT(*) > 1""".stripMargin,

    "rdf_bind_strfuns" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT subject AS item, obj_value AS title,
         |       upper(obj_value) AS title_uc,
         |       CAST(length(obj_value) AS BIGINT) AS title_len,
         |       replace(obj_value, ' ', '_') AS slug
         |FROM triples
         |WHERE predicate = '$DctermsTitle' AND obj_kind = 'literal'
         |  AND obj_lang = 'nl' AND length(obj_value) >= 10""".stripMargin,

    "rdf_term_stats" ->
      s"""WITH ${TripleFixture.triplesCte}
         |SELECT obj_kind, coalesce(obj_lang, '') AS lang,
         |       coalesce(obj_datatype, '') AS datatype,
         |       CAST(COUNT(*) AS BIGINT) AS n_terms,
         |       CAST(COUNT(DISTINCT predicate) AS BIGINT) AS n_preds
         |FROM triples
         |GROUP BY 1, 2, 3""".stripMargin,

    "rdf_subquery_topn" ->
      s"""WITH ${TripleFixture.triplesCte},
         |top5 AS (
         |  SELECT subject, CAST(COUNT(*) AS BIGINT) AS n_triples
         |  FROM triples GROUP BY subject
         |  ORDER BY n_triples DESC, subject ASC LIMIT 5),
         |titles AS (
         |  SELECT subject, MIN(obj_value) AS title FROM triples
         |  WHERE predicate = '$DctermsTitle' AND obj_kind = 'literal'
         |  GROUP BY subject)
         |SELECT t.subject AS item, t.n_triples, ti.title
         |FROM top5 t LEFT JOIN titles ti ON ti.subject = t.subject""".stripMargin,
  )

  /** CTE `mg`: byte-identical to [[multiGraph]] (char-length graph
    * re-tag over `triples` + the enrichment batch's own graph). */
  private def multiGraphCte: String =
    s"""mg AS (
       |  SELECT 'http://ex.org/graph/' ||
       |      ((length(subject) + length(obj_value)) % 3) AS graph,
       |    subject, subject_kind, predicate, obj_value, obj_kind,
       |    obj_lang, obj_datatype
       |  FROM triples
       |  UNION ALL
       |  SELECT 'http://ex.org/graph/enrich', subject, subject_kind,
       |    predicate, obj_value, obj_kind, obj_lang, obj_datatype
       |  FROM enrichment)""".stripMargin
}
