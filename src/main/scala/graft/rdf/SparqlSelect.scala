package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Vocab.RdfType

/** A SPARQL SELECT text front-end — the entry point a user holding a
  * query *string* expects (the reference's data model answers
  * `rdflib.Graph.query()` strings; reference: src/
  * transform_datamodel.py:20 imports rdflib, whose Graph exposes
  * `query`). The engine's execution shapes already exist as
  * DataFrame builders ([[RdfQueries]]); this parser routes a
  * restricted-but-canonical SELECT grammar into those SAME shapes,
  * so a parsed query plans identically to its hand-built twin
  * (SparqlSelectSpec proves plan-equality via `sameResult`).
  *
  * Supported grammar (whitespace-insensitive, keywords
  * case-insensitive; prefix names case-SENSITIVE per SPARQL):
  * {{{
  *   query    := prefix* SELECT DISTINCT? (item+ | *)
  *               (FROM NAMED? iri)*          (§13.2 dataset clause)
  *               WHERE { body }
  *               (GROUP BY ?var+)? (HAVING ( aggCond ))?
  *               (ORDER BY key+)? (LIMIT n)?
  *   prefix   := PREFIX pname: <iri>
  *   item     := ?var | ( agg AS ?var )
  *   agg      := COUNT(*) | COUNT(DISTINCT? ?v) | SUM(?v) | MIN(?v)
  *             | MAX(?v) | SAMPLE(?v)            (pinned to MIN)
  *             | AVG(?v)      (EXACT ×1000 integer floor-div —
  *                             milli-units, never a float)
  *             | GROUP_CONCAT(?v (; separator="s")?)
  *   body     := group | braced (UNION braced)+
  *   braced   := { (triples | optional | filter | values | bind)* }
  *   group    := (triples | optional | minus | graphb | filter
  *                | values | bind | subq)+
  *   minus    := MINUS { triples }
  *   graphb   := GRAPH (iri | ?var) { triples }
  *   values   := VALUES ?var { (string | iri)+ }
  *   bind     := BIND ( bexpr AS ?var )
  *   bexpr    := UCASE(?v) | LCASE(?v) | STRLEN(?v)
  *             | REPLACE(?v, "pat", "rep") | CONCAT(arg (, arg)*)
  *             | SUBSTR(?v, start (, len)?)      (1-based)
  *             | STRBEFORE(?v, "s") | STRAFTER(?v, "s")
  *             | COALESCE(arg (, arg)*)          (OPTIONAL defaults)
  *   triples  := term (path | ?var) obj (';' (path | ?var) obj)* '.'?
  *   subq     := { SELECT ... }     (a full query body, in a group)
  *   path     := step ('/' step)*
  *   step     := '!'? '^'? ( pred | '(' '^'? pred ('|' '^'? pred)* ')'
  *                         | '(' pred ('/' pred)+ ')' )
  *               ('+'|'*'|'?')?     (negated sets: unquantified —
  *                                   `!p`, `!(p|q)`, `!^p` ≡ `^!p`,
  *                                   pure-inverse `!(^p|^q)` ≡
  *                                   `^!(p|q)`, and MIXED `!(p|^q)`
  *                                   per §18.2.2.5's two-scan union;
  *                                   parenthesized sequences compose
  *                                   under the quantifier —
  *                                   `(p1/p2)+` is the fixpoint over
  *                                   the composed edge set; without
  *                                   a quantifier the parens desugar
  *                                   to the plain sequence)
  *   optional := OPTIONAL { triples filter* }
  *   filter   := FILTER ( cond (&& cond)* )
  *             | FILTER NOT? EXISTS { triples }
  *   cond     := ?var op (integer | "string")
  *             | REGEX(?var, "pattern") | CONTAINS(?var, "s")
  *             | STRSTARTS(?var, "s") | STRENDS(?var, "s")
  *             | '!'? BOUND(?var)
  *             | LANGMATCHES(LANG(?var), "tag")
  *   op       := = | != | < | <= | > | >=
  *   term     := ?var | <iri> | pname:local
  *   pred     := <iri> | pname:local | a          (constant only)
  *   obj      := ?var | <iri> | pname:local | "string"
  *   key      := ?var | ASC(?var) | DESC(?var)   (projected names only)
  *   aggCond  := agg op integer
  * }}}
  * LIMIT and OFFSET compose in either textual order with SPARQL's
  * fixed application order (OFFSET skips, then LIMIT caps); OFFSET
  * requires ORDER BY — an unordered offset is nondeterministic, and
  * this front-end only emits oracle-checkable plans. REGEX/CONTAINS
  * are codegen'd string predicates on the binding; LANGMATCHES
  * constrains the `obj_lang` of the triple that BINDS the variable,
  * so it pushes into the scan (the [[RdfQueries]] bindStrFuns
  * discipline — a language filter never survives past the scan) and,
  * in the pivot, into the conditional aggregate's match condition.
  * `langMatches` is exact-tag (plus `*` = any tagged literal); the
  * RFC 4647 prefix fallback is out of scope.
  * The prefixes of [[Vocab.namespaces]] are pre-declared; PREFIX
  * clauses add or override. ORDER BY + LIMIT plans as Spark's
  * bounded top-k (TakeOrderedAndProject), never a full sort.
  * Variable predicates (`?s ?p ?o`) bind the predicate column in
  * the scan (no path operators compose with them); `{ SELECT ... }`
  * subqueries evaluate independently — their own aggregates and
  * solution modifiers — and lead the enclosing group's join fold
  * (the top-N subquery is the few-row driving table; AQE broadcasts
  * it into the joins that follow). MINUS anti-joins on the shared
  * variables (no shared variables → no-op, SPARQL's disjoint-domain
  * rule); `p*` adds zero-length self rows for every node incident
  * to a p-edge (a documented narrowing of the spec's all-terms
  * rule; `p?` is the bounded sibling — edges plus the same self
  * rows, no iteration). Out of scope (use the DataFrame builders
  * directly): nested OPTIONAL/UNION.
  *
  * Compilation strategy mirrors the hand-built forms exactly:
  *  - A BGP whose required patterns share ONE subject variable (and
  *    ≥ 2 patterns or an OPTIONAL) compiles to the star PIVOT — one
  *    exchange, conditional aggregates per predicate
  *    ([[RdfQueries.bgpStarOf]]'s shape; same functional-property
  *    caveat, guarded by RdfPathSpec).
  *  - Anything else compiles to per-pattern filtered scans joined on
  *    shared variables (the naive BGP join), OPTIONAL groups as left
  *    joins — exact SPARQL multiset semantics. Within the join form,
  *    a pattern whose ONLY variable is its subject (constant
  *    predicate + object) that another pattern also binds is a
  *    MEMBERSHIP test, not a binding source: it compiles to a
  *    broadcast `left_semi` against the distinct matching-subject
  *    set — the dimension-set shape every hand-built form (groupAgg,
  *    pathAlt, pathInv) uses. Sound because the triple store is a
  *    SET: a single-variable pattern binds each subject at most
  *    once, so inner-join and semi-join multiplicities coincide.
  *  - UNION branches that differ ONLY in their predicate constant
  *    (same subject/object terms, disjoint predicates) merge into
  *    ONE `isin` scan ([[RdfQueries.pathAlt]]'s documented shape —
  *    "never a union of per-predicate scans"); heterogeneous
  *    branches compile per-branch and union with typed null padding
  *    for the variables a branch leaves unbound (SPARQL's UNION
  *    multiset semantics).
  *  - Property paths desugar in the parser: `p1/p2` threads a hidden
  *    intermediate variable (excluded from `SELECT *`), `^p` swaps
  *    the pattern's endpoints (a projection swap — no reversed edge
  *    set is materialized, [[RdfQueries.pathInv]]'s shape), `p1|p2`
  *    becomes a predicate SET on one pattern (one scan), and `p+`
  *    reads a stored closure artifact or else runs
  *    [[RdfOps.reachablePlusPairs]] — the engine's one pair-closure
  *    operator — over the IRI-object edge scan of its predicate set
  *    (closure steps walk the IRI graph; non-closure steps keep
  *    plain value-join semantics).
  *  - GROUP BY + aggregates compile to the single-exchange hash
  *    aggregate over the join form ([[RdfQueries]]'s groupAgg /
  *    groupConcat / groupHaving shapes): map-side partial
  *    aggregation on the grouping key; HAVING is a post-aggregate
  *    filter on the (group-scale) result, reusing a projected
  *    aggregate's column when the HAVING expression matches one.
  *    GROUP_CONCAT pins lexicographic order (sort_array over the
  *    collected set) — SPARQL leaves concat order
  *    implementation-defined; determinism is the engine's documented
  *    choice.
  *  - VALUES joins its inline relation (driver-local, explicitly
  *    broadcast) immediately after the pattern that binds the
  *    variable — [[RdfQueries]]'s valuesJoin shape: the broadcast
  *    prunes the binding scan BEFORE the big pattern joins, and the
  *    triple scan never shuffles for inline data.
  *  - BIND compiles to a codegen'd scalar projection after the
  *    group's joins; a FILTER may reference a BIND target — the
  *    optimizer substitutes the defining expression and pushes the
  *    predicate into the scan (zero exchanges added — the
  *    bindStrFuns discipline). Groups with VALUES/BIND route
  *    through the join form, never the pivot.
  * A FILTER comparing a variable to an integer (or a SUM over it)
  * makes that variable's binding numeric (`cast("int")` inside the
  * pivot aggregate / scan projection, like the hand-built
  * `part_size`); bound-by-comparison variables skip the redundant
  * isNotNull (a comparison on NULL is never true in either engine).
  */
object SparqlSelect {

  // ---- AST ----
  sealed trait Term
  final case class V(name: String) extends Term
  final case class I(iri: String) extends Term
  final case class L(value: String) extends Term

  /** One triple pattern. `preds` is the predicate set (size 1 for a
    * plain pattern, > 1 for an alternation — evaluated as ONE `isin`
    * scan); `plus` marks a closure step (`p+`), evaluated as a
    * semi-naive fixpoint. `predVar` Some(v) is a VARIABLE predicate
    * (`?s ?p ?o` — preds empty, no path operators): the scan binds
    * the predicate column instead of filtering it. */
  final case class Pattern(s: Term, preds: Seq[String], o: Term,
      plus: Boolean = false, predVar: Option[String] = None,
      star: Boolean = false, graphCtx: Option[Term] = None,
      zeroOne: Boolean = false, negated: Boolean = false,
      seqPath: Seq[String] = Nil, rep: Option[(Int, Int)] = None,
      negInvPreds: Seq[String] = Nil) {
    /** Any non-plain step (`p+`, `p*`, `p?`, or `p{lo,hi}`) —
      * excluded from the pivot/membership/merge shapes, which
      * assume one scan. */
    def closed: Boolean = plus || star || zeroOne || rep.isDefined
  }

  /** One VALUES clause: inline data for one variable. SPARQL multiset
    * semantics: duplicate values duplicate matching rows (the inline
    * relation joins as-is, no implicit distinct). */
  final case class ValuesClause(v: String, vals: Seq[String])

  /** One §13 SERVICE clause: a constant endpoint, the SILENT flag,
    * the remote basic graph pattern (plain triple patterns — the
    * subset this engine serializes back to query text), and the
    * FILTERs written inside the block — serialized into the remote
    * query (so a conformant endpoint returns only matching rows)
    * AND re-applied locally to the returned frame (so a
    * non-conformant endpoint cannot widen the result). */
  final case class ServiceClause(endpoint: String, silent: Boolean,
      patterns: Seq[Pattern], filters: Seq[FilterExpr] = Nil)

  /** Federated-endpoint seam (§13.3): given (endpoint IRI, SPARQL
    * query text) return the remote solution rows as var → lexical
    * value maps — None on any failure (SILENT then degrades the
    * clause to the unit solution; otherwise the query errors). The
    * default is [[HttpServiceClient]]; specs inject loopback
    * fetchers (the OmekaHttp discipline). */
  trait ServiceClient {
    def fetch(endpoint: String, query: String)
        : Option[Seq[Map[String, String]]]
  }

  /** The default client: HTTP GET `endpoint?query=…` with the
    * SPARQL JSON results media type, bindings flattened to their
    * lexical `value` fields (the engine's solution columns are
    * lexical — the documented SERVICE delta: remote term KINDS are
    * not re-distinguished after the join). */
  object HttpServiceClient extends ServiceClient {
    override def fetch(endpoint: String, query: String)
        : Option[Seq[Map[String, String]]] =
      try {
        val sep = if (endpoint.contains("?")) "&" else "?"
        val url = java.net.URI.create(endpoint + sep + "query=" +
          java.net.URLEncoder.encode(query, "UTF-8")).toURL
        val conn = url.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Accept",
          "application/sparql-results+json")
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        if (conn.getResponseCode != 200) None
        else parseSparqlResults(new String(
          conn.getInputStream.readAllBytes(), "UTF-8"))
      } catch {
        // Any failure — IO, a non-HTTP endpoint scheme (file:/mailto:
        // throw from toURL / the HttpURLConnection cast), malformed
        // IRIs — degrades to None so SERVICE SILENT yields the unit
        // solution and non-SILENT raises the named SERVICE error.
        case scala.util.control.NonFatal(_) => None
      }
  }

  /** Parse a SPARQL 1.1 JSON results document into var → value
    * rows; None on any malformation (fail-closed — a half-parsed
    * result set must not silently join as partial bindings). */
  def parseSparqlResults(json: String): Option[Seq[Map[String, String]]] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      val bindings = root.path("results").path("bindings")
      if (!bindings.isArray) return None
      val out = Seq.newBuilder[Map[String, String]]
      val it = bindings.elements()
      while (it.hasNext) {
        val b = it.next()
        if (!b.isObject) return None
        var m = Map.empty[String, String]
        val fs = b.fields()
        while (fs.hasNext) {
          val e = fs.next()
          val v = e.getValue.path("value")
          if (!v.isTextual) return None
          m += (e.getKey -> v.asText)
        }
        out += m
      }
      Some(out.result())
    } catch { case _: Exception => None }

  /** One BIND expression — the string-function subset the hand-built
    * [[RdfQueries]] bindStrFuns shape runs. All compile to codegen'd
    * scalar projections (zero exchanges added). */
  sealed trait BindExpr
  /** `UCASE(?v)` / `LCASE(?v)` / `STRLEN(?v)` — one-arg functions. */
  final case class BFun1(fun: String, v: String) extends BindExpr
  /** `REPLACE(?v, pattern, replacement)` — regex replace, SPARQL's
    * REPLACE is regex-based like Spark's regexp_replace. */
  final case class BReplace(v: String, pattern: String, repl: String)
      extends BindExpr
  /** `CONCAT(arg, ...)` — args are vars (Left) or strings (Right). */
  final case class BConcat(parts: Seq[Either[String, String]])
      extends BindExpr
  /** `SUBSTR(?v, start (, len)?)` — SPARQL's 1-based substring. */
  final case class BSubstr(v: String, start: Int, len: Option[Int])
      extends BindExpr
  /** `STRBEFORE(?v, s)` / `STRAFTER(?v, s)` — the prefix/suffix of
    * the FIRST occurrence, "" when absent (SPARQL 1.1 §17.4.3.4/5).
    * Non-empty separators only (the empty-separator corner returns
    * ""/the input per spec — rejected rather than silently special-
    * cased). */
  final case class BStrBA(v: String, sep: String, before: Boolean)
      extends BindExpr
  /** `COALESCE(arg, ...)` — first bound argument; args are vars
    * (Left) or string literals (Right, always bound). */
  final case class BCoalesce(parts: Seq[Either[String, String]])
      extends BindExpr
  /** Integer arithmetic expression tree over numeric bindings and
    * integer literals — precedence-correct (`*` binds tighter than
    * additive; parentheses honored), evaluated in BIGINT (SPARQL's
    * integer ops don't overflow into decimals). Subtraction arrives
    * from the tokenizer as negative-integer tokens (`?v -2` —
    * there is no bare `-` token), which folds as `+ (-2)`;
    * var-minus-var subtraction is out of grammar and fails loudly
    * at tokenize. */
  sealed trait ArithE
  final case class ANum(n: Long) extends ArithE
  final case class AVar(v: String) extends ArithE
  final case class ABin(op: String, l: ArithE, r: ArithE)
      extends ArithE
  final case class BArith(e: ArithE) extends BindExpr
  /** `IF(cond, then, else)` — branches are vars (Left) or string
    * literals (Right); cond is a value-level FILTER condition
    * (comparison, text predicate, IN, BOUND — the OPTIONAL-default
    * idiom). Binding-site conditions (LANGMATCHES, ISIRI…) are
    * rejected at parse. */
  final case class BIf(cond: FilterExpr, thenP: Either[String, String],
      elseP: Either[String, String]) extends BindExpr
  /** `STR(?v)` / `LANG(?v)` / `DATATYPE(?v)` — term accessors
    * (SPARQL 1.1 §17.4.2). STR is the lexical form (the value
    * column, kind-independent); LANG and DATATYPE read the BINDING
    * triple's threaded term metadata: LANG of a plain/typed literal
    * is `""`, DATATYPE of a plain literal is xsd:string and of a
    * lang-tagged literal rdf:langString; both are errors (→ unbound,
    * NULL) on non-literal bindings. */
  final case class BTermFn(fun: String, v: String) extends BindExpr
  /** `BIND(expr AS ?as)`. */
  final case class Bind(as: String, expr: BindExpr)

  /** One FILTER condition. */
  sealed trait FilterExpr { def v: String }
  /** `?variable op rhs` — rhs either integer or string literal. */
  final case class Cond(v: String, op: String, rhs: Either[Long, String])
      extends FilterExpr
  /** `REGEX(?v, pattern)` / `CONTAINS(?v, s)` — `fun` is "regex" or
    * "contains". */
  final case class TextCond(v: String, fun: String, arg: String)
      extends FilterExpr
  /** `LANGMATCHES(LANG(?v), tag)` — constrains the binding triple's
    * `obj_lang` (tag `*` = any language-tagged literal). */
  final case class LangCond(v: String, tag: String) extends FilterExpr
  /** `BOUND(?v)` / `!BOUND(?v)` — null-ness of an OPTIONAL binding
    * (the pre-1.1 negation idiom; runs after the left joins). */
  final case class BoundCond(v: String, positive: Boolean)
      extends FilterExpr
  /** `?v IN (lit, ...)` / `?v NOT IN (...)` — ONE `isin` scan (never
    * a disjunction of equality scans). NULL bindings are excluded
    * either way — SPARQL's error-on-unbound rule. */
  final case class InCond(v: String, vals: Seq[String],
      positive: Boolean) extends FilterExpr
  /** `ISIRI/ISLITERAL/ISBLANK(?v)` (optionally `!`-negated) — a
    * property of the BINDING triple's term kind; like LANGMATCHES it
    * compiles at the binding site (pushed into the scan / the pivot
    * match condition), never over the value column. */
  final case class KindCond(v: String, fun: String, positive: Boolean)
      extends FilterExpr
  /** `?a op ?b` — comparison between two bindings. Values compare as
    * their scanned types (string lexical forms unless the numeric-
    * filter rule already coerced a var to int), mirroring the oracle
    * side's column comparison. */
  final case class VarCond(v: String, op: String, v2: String)
      extends FilterExpr
  /** `cond || cond || ...` — disjunction. Spark's three-valued OR is
    * exactly SPARQL's error-tolerant `||` (error || true = true), so
    * a NULL-binding alternative never suppresses a passing one.
    * Binding-site conditions (LANGMATCHES/ISIRI…) cannot be
    * disjoined — they'd need an OR across different scans — and
    * mixed `&&`/`||` chains must be parenthesized into separate
    * FILTERs (rejected at parse, not silently mis-associated). */
  final case class OrCond(alts: Seq[FilterExpr]) extends FilterExpr {
    def v: String = alts.head.v
  }

  /** One aggregate select item: `(fun(arg) AS ?as)`. `arg` None is
    * `COUNT(*)`; `sep` is GROUP_CONCAT's separator; `distinct` is
    * `COUNT(DISTINCT ?v)` (the one aggregate where DISTINCT changes
    * the value under set-semantics grouping — supported there,
    * rejected elsewhere). */
  final case class Agg(fun: String, arg: Option[String], sep: String,
      as: String, distinct: Boolean = false)

  /** One WHERE group (a union branch, or the whole WHERE). */
  final case class Group(required: Seq[Pattern],
      optionals: Seq[Seq[Pattern]], filters: Seq[FilterExpr],
      values: Seq[ValuesClause] = Nil, binds: Seq[Bind] = Nil,
      subs: Seq[Query] = Nil, minuses: Seq[Seq[Pattern]] = Nil,
      optFilters: Seq[Seq[FilterExpr]] = Nil,
      exists: Seq[(Boolean, Seq[Pattern])] = Nil,
      services: Seq[ServiceClause] = Nil) {
    /** Per-optional filter lists, padded — `optFilters` may be
      * shorter when no OPTIONAL carried a FILTER. */
    def optFiltersPadded: Seq[Seq[FilterExpr]] =
      optionals.indices.map(i =>
        if (i < optFilters.size) optFilters(i) else Nil)
  }

  final case class Query(
      selectItems: Seq[Either[String, Agg]], // empty = SELECT *
      groups: Seq[Group], // size 1 = plain group; 2+ = UNION branches
      groupBy: Seq[String],
      having: Seq[(Agg, String, Long)],
      distinct: Boolean,
      orderBy: Seq[(String, Boolean)], // (name, ascending)
      limit: Option[Int],
      offset: Option[Int] = None,
      // SPARQL 1.1 §13.2 dataset clause: when EITHER list is
      // non-empty the dataset is EXPLICIT — unscoped patterns match
      // only the FROM merge, GRAPH blocks range only over FROM
      // NAMED (each empty list then matches nothing). With no
      // clause the engine keeps its documented default: unscoped
      // patterns match the union graph.
      from: Seq[String] = Nil,
      fromNamed: Seq[String] = Nil) {
    def datasetExplicit: Boolean = from.nonEmpty || fromNamed.nonEmpty
  }

  /** A stored-closure lookup: given a closure step's predicates,
    * return the STORED `(src, dst)` pair closure to read instead of
    * walking the fixpoint — the stored-closure discipline a triple
    * store applies to its hot-path predicates. Consulted only for
    * graph-unscoped steps (a GRAPH-scoped closure has a different
    * edge set). The Boolean flags a COMPOSED sequence (`(p1/p2)+` —
    * predicates in hop order): a different relation from the flat
    * alternation set with the same predicates, so the two keyings
    * can never serve each other's artifacts. */
  type ClosureProvider = (Seq[String], Boolean) => Option[DataFrame]

  private val NoClosure: ClosureProvider = (_, _) => None

  def apply(triples: DataFrame, queryText: String): DataFrame =
    compile(triples, parse(queryText))

  def apply(triples: DataFrame, queryText: String,
      closureOf: ClosureProvider): DataFrame =
    compile(triples, parse(queryText), closureOf)

  /** [[apply]] with an injected federated-endpoint client — how
    * tests evaluate SERVICE against loopback endpoints, and how a
    * deployment swaps auth/retry policy in. */
  def apply(triples: DataFrame, queryText: String,
      serviceClient: ServiceClient): DataFrame =
    compile(triples, parse(queryText), NoClosure, serviceClient)

  // ---- the other three SPARQL query FORMS ----

  sealed trait Parsed
  final case class PSelect(q: Query) extends Parsed
  final case class PAsk(q: Query) extends Parsed
  final case class PConstruct(template: Seq[Pattern], q: Query)
      extends Parsed
  final case class PDescribeIri(iri: String) extends Parsed
  final case class PDescribeVar(v: String, q: Query) extends Parsed

  def parseForm(q: String): Parsed = new Parser(tokenize(q)).form()

  /** Compile ANY query form — SELECT routes to [[compile]]; ASK is a
    * LIMIT-1-bounded boolean aggregate (on the join path the limit
    * short-circuits the scan; on the pivot path the cost is the
    * pivot's single exchange — never an unbounded count collected
    * to the driver); CONSTRUCT instantiates
    * its template from the solution table back into the canonical
    * triple schema (publishable through the Turtle/TriG sinks), with
    * the binding triple's term metadata threaded through the scans;
    * DESCRIBE semi-joins the store on the matched subject set
    * (hint-free — AQE broadcasts a selective match, an unselective
    * one falls back to a subject-keyed shuffle). */
  def queryForm(triples: DataFrame, text: String,
      closureOf: ClosureProvider = NoClosure): DataFrame =
    parseForm(text) match {
      case PSelect(q) => compile(triples, q, closureOf)
      case PAsk(q) => compileAsk(triples, q, closureOf)
      case PConstruct(tm, q) =>
        compileConstruct(triples, tm, q, closureOf)
      case PDescribeIri(iri) => triples.filter(col("subject") === iri)
      case PDescribeVar(v, q) => compileDescribe(triples, v, q, closureOf)
    }

  // ---- SPARQL UPDATE (the rdflib graph.update() surface) ----

  /** One constant triple in a DATA block. */
  final case class ConstTriple(s: String, p: String, o: Term)

  sealed trait Update
  final case class UInsertData(rows: Seq[ConstTriple]) extends Update
  final case class UDeleteData(rows: Seq[ConstTriple]) extends Update
  /** CLEAR GRAPH <g> / DEFAULT / NAMED / ALL — scope is the graph
    * name, "default", " named" or " all" (sentinels no IRI
    * can be). */
  final case class UClear(scope: String) extends Update
  /** ADD/COPY/MOVE (GRAPH <g> | DEFAULT) TO (GRAPH <g> | DEFAULT). */
  final case class UGraphXfer(op: String, from: String,
      to: String) extends Update
  /** `DELETE { del } INSERT { ins } WHERE { body }` — either
    * template may be empty; `DELETE WHERE { p }` sugars to del = the
    * body's own patterns. */
  final case class UModify(del: Seq[Pattern], ins: Seq[Pattern],
      q: Query) extends Update

  def parseUpdate(q: String): Update = new Parser(tokenize(q)).update()

  /** Apply a SPARQL UPDATE to the graph and return the UPDATED graph
    * (immutable-DataFrame semantics: the store is a value, the
    * update a transformation — the engine's version of rdflib's
    * `graph.update()`, and the general form of the reference's
    * remove/add loops: predicate rename (O17) is
    * `DELETE { ?s p ?o } INSERT { ?s q ?o } WHERE { ?s p ?o }`,
    * predicate delete (O18) is `DELETE WHERE { ?s p ?o }`;
    * reference: src/transform_datamodel.py:112–127). Set semantics
    * throughout: INSERT set-dedups against the store; DELETE
    * anti-joins on the FULL term identity — subject, predicate,
    * value, kind, and null-safe lang/datatype — so deleting a
    * literal never removes a same-spelled IRI. Scale: DATA blocks
    * are driver-small (broadcast anti-join / union of a local
    * relation); WHERE-driven deletes instantiate from the solution
    * table and anti-join the store on its natural key — one
    * shuffle, the O18 shape. */
  def update(t: DataFrame, text: String,
      closureOf: ClosureProvider = NoClosure): DataFrame =
    parseUpdate(text) match {
      case UInsertData(rows) =>
        t.unionByName(constRows(t, rows)).dropDuplicates()
      case UDeleteData(rows) =>
        antiTriples(t, broadcast(constRows(t, rows)))
      // graph management: pure graph-column algebra — a filter, or a
      // filter ∪ graph-relabelled copy with the per-graph set dedup;
      // map-side except the dedup exchange the set semantics IS
      case UClear(scope) => scope match {
        case " all" => t.limit(0)
        case " named" => t.filter(col("graph") === "default")
        case g => t.filter(col("graph") =!= g)
      }
      case UGraphXfer(op, from, to) =>
        if (from == to) t // SPARQL: same-graph ADD/COPY/MOVE is a no-op
        else {
          val copied = t.filter(col("graph") === from)
            .withColumn("graph", lit(to))
          val kept = op match {
            case "ADD" => t
            case "COPY" => t.filter(col("graph") =!= to)
            case "MOVE" =>
              t.filter(col("graph") =!= to && col("graph") =!= from)
          }
          kept.unionByName(copied).dropDuplicates()
        }
      case UModify(del, ins, q) =>
        val g = q.groups.head
        val sol = joinsGroup(t, q, g, templateMetaVars(del ++ ins, g),
          closureOf)
        val afterDel =
          if (del.isEmpty) t
          else antiTriples(t, instantiate(sol, del, g))
        if (ins.isEmpty) afterDel
        else afterDel.unionByName(instantiate(sol, ins, g))
          .dropDuplicates()
    }

  /** Remove `del`'s triples from `t` by full term identity (null-safe
    * on the nullable lang/datatype — a null-lang literal must match
    * its null-lang delete row). Single-graph store: the graph column
    * is not part of the identity here. */
  private def antiTriples(t: DataFrame, del: DataFrame): DataFrame = {
    val d = del.select(col("subject").as("_ds"),
      col("predicate").as("_dp"), col("obj_value").as("_dv"),
      col("obj_kind").as("_dk"), col("obj_lang").as("_dl"),
      col("obj_datatype").as("_dd")).distinct()
    t.join(d,
      t("subject") === col("_ds") && t("predicate") === col("_dp") &&
        t("obj_value") === col("_dv") && t("obj_kind") === col("_dk") &&
        (t("obj_lang") <=> col("_dl")) &&
        (t("obj_datatype") <=> col("_dd")),
      "left_anti")
  }

  /** A DATA block as a local relation in the canonical schema. */
  private def constRows(t: DataFrame, rows: Seq[ConstTriple]): DataFrame = {
    val sp = t.sparkSession
    import sp.implicits._
    rows.map { ct =>
      val (ov, ok) = ct.o match {
        case I(x) => (x, "iri")
        case L(x) => (x, "literal")
        case V(_) => throw new IllegalStateException(
          "constBlock guarantees constant objects")
      }
      ("default", ct.s, "iri", ct.p, ov, ok,
        null.asInstanceOf[String], null.asInstanceOf[String])
    }.toDF("graph", "subject", "subject_kind", "predicate",
      "obj_value", "obj_kind", "obj_lang", "obj_datatype")
  }

  /** §13.2 dataset clauses and GRAPH blocks scope on the `graph`
    * column — against a non-graph-partitioned store that is an
    * ENGINE limitation, not an analysis accident: say so instead of
    * letting Spark throw an opaque unresolved-column error. */
  private def requireGraphColumn(t: DataFrame, q: Query,
      pats: Seq[Pattern]): Unit =
    if ((q.datasetExplicit || pats.exists(_.graphCtx.nonEmpty)) &&
        !t.columns.contains("graph"))
      throw new IllegalArgumentException(
        "SPARQL: FROM / FROM NAMED / GRAPH requires a " +
          "graph-partitioned triple store (no 'graph' column in " +
          s"[${t.columns.mkString(", ")}])")

  private def compileAsk(t: DataFrame, q: Query,
      closureOf: ClosureProvider = NoClosure): DataFrame =
    compile(t, q, closureOf).limit(1)
      .agg((count(lit(1)) > 0).as("ask"))

  private def compileDescribe(t: DataFrame, v: String, q: Query,
      closureOf: ClosureProvider = NoClosure): DataFrame = {
    val matched = compile(t, q, closureOf)
      .select(col(v).as("subject")).distinct()
    t.join(matched, Seq("subject"), "left_semi")
  }

  /** Template instantiation: each template pattern is a pure
    * projection of the solution table into the canonical triple
    * schema, unioned and set-deduped ([[RdfQueries]]'s construct
    * shape). An instantiation with ANY unbound template var is
    * omitted (SPARQL's partial-solution rule for OPTIONAL-bound
    * vars). Object vars bound as objects in the body carry their
    * binding triple's kind/lang/datatype (threaded hidden columns);
    * vars bound only as subjects are IRIs by the data model. */
  private def compileConstruct(t: DataFrame, tmpl: Seq[Pattern],
      q: Query, closureOf: ClosureProvider = NoClosure): DataFrame = {
    val g = q.groups.head
    requireGraphColumn(t, q, g.required ++ g.optionals.flatten)
    val sol = joinsGroup(t, q, g, templateMetaVars(tmpl, g), closureOf)
    instantiate(sol, tmpl, g).dropDuplicates()
  }

  /** The template object vars whose binding-triple term metadata the
    * solution table must carry ([[joinsGroup]]'s hidden `_k_/_l_/_d_`
    * columns): bound as OBJECTS in the body; vars bound only as
    * subjects are IRIs by the data model. Also validates that every
    * template var is body-bound. */
  private def templateMetaVars(tmpl: Seq[Pattern], g: Group): Set[String] = {
    val bodyVars = (g.required ++ g.optionals.flatten).flatMap(varsOf)
      .toSet ++ g.binds.map(_.as)
    tmpl.foreach { p =>
      varsOf(p).foreach(v => require(bodyVars.contains(v),
        s"SPARQL: template var ?$v is not bound in WHERE"))
    }
    val objBoundCounts = (g.required ++ g.optionals.flatten)
      .flatMap(_.o match {
        case V(n) => Seq(n)
        case _ => Nil
      }).groupBy(identity).view.mapValues(_.size).toMap
    tmpl.flatMap(_.o match {
      case V(n) => Seq(n)
      case _ => Nil
    }).filter(objBoundCounts.contains).map { n =>
      // a template object var bound as OBJECT by several patterns
      // would put the threaded metadata columns into the join keys
      // with null-unsafe equality (silently dropping null-lang
      // solutions) — reject loudly instead of emitting wrong terms
      require(objBoundCounts(n) == 1,
        s"SPARQL: template object var ?$n is object-bound by " +
          s"${objBoundCounts(n)} patterns — metadata threading " +
          "requires a single binding pattern")
      n
    }.toSet
  }

  /** Instantiate template patterns from a solution table into the
    * canonical triple schema (one projection per template pattern,
    * unioned — NOT deduped; callers apply their own set semantics).
    * Instantiations with ANY unbound template var are omitted
    * (SPARQL's partial-solution rule for OPTIONAL-bound vars). */
  private def instantiate(sol: DataFrame, tmpl: Seq[Pattern],
      g: Group): DataFrame = {
    val metaVars = templateMetaVars(tmpl, g)
    val nullS = lit(null).cast("string")
    tmpl.map { p =>
      val subj = p.s match {
        case V(n) => col(n)
        case I(iri) => lit(iri)
        case L(_) => throw new IllegalArgumentException(
          "SPARQL: a template subject cannot be a literal")
      }
      val (ov, ok, ol, od) = p.o match {
        case V(n) if metaVars.contains(n) =>
          (col(n), col(s"_k_$n"), col(s"_l_$n"), col(s"_d_$n"))
        case V(n) => (col(n), lit("iri"), nullS, nullS)
        case I(iri) => (lit(iri), lit("iri"), nullS, nullS)
        case L(v) => (lit(v), lit("literal"), nullS, nullS)
      }
      val varCols = varsOf(p).map(col)
      val base =
        if (varCols.isEmpty) sol
        else sol.filter(varCols.map(_.isNotNull).reduce(_ && _))
      base.select(lit("default").as("graph"), subj.as("subject"),
        lit("iri").as("subject_kind"), lit(p.preds.head).as("predicate"),
        ov.as("obj_value"), ok.as("obj_kind"), ol.as("obj_lang"),
        od.as("obj_datatype"))
    }.reduce(_.union(_))
  }

  // ---- tokenizer ----

  private val Tok = (
    """\s*(<[^>\s]*>|"(?:[^"\\]|\\.)*"|\?\w+|&&|\|\||!=|<=|>=|=|<|>|""" +
      """\{|\}|\(|\)|\.|;|,|\*|/|\^|\+|\||\?|!|""" +
      """[A-Za-z_][\w-]*:[\w.-]*|-?\d+|\w+)""").r

  private def tokenize(q: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var rest = q.trim
    while (rest.nonEmpty) {
      Tok.findPrefixMatchOf(rest) match {
        case Some(m) =>
          out += m.group(1)
          rest = rest.substring(m.end).trim
        case None =>
          throw new IllegalArgumentException(
            s"SPARQL: cannot tokenize at: ${rest.take(40)}")
      }
    }
    out.result()
  }

  // ---- parser (recursive descent over the token vector) ----

  def parse(q: String): Query = new Parser(tokenize(q)).query()

  private val AggFuns =
    Set("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE")

  /** One property-path step: `'!'? '^'? primary mod?` where primary
    * is a predicate or a parenthesized alternation of predicates.
    * `neg` marks a negated property set (`!p` / `!(p1|p2)` — any
    * predicate NOT in the set). `^!S`, `!^p` and pure-inverse
    * `!(^p1|^p2)` all normalize to the endpoint-swapped negated
    * scan (inv + neg); a MIXED set `!(p|^q)` keeps the inverse half
    * in `negInvPreds` and evaluates as the spec's two-scan union
    * (§18.2.2.5). No quantifiers: a quantified negated set has no
    * bounded scan shape. */
  private final case class Step(inv: Boolean, preds: Seq[String],
      plus: Boolean, star: Boolean, zeroOne: Boolean,
      neg: Boolean = false, seqPreds: Seq[String] = Nil,
      rep: Option[(Int, Int)] = None,
      negInvPreds: Seq[String] = Nil)

  private final class Parser(ts: Vector[String]) {
    private var i = 0
    private def peek: String = if (i < ts.size) ts(i) else ""
    private def peek2: String = if (i + 1 < ts.size) ts(i + 1) else ""
    private def next(): String = { val t = peek; i += 1; t }
    private def expect(t: String): Unit = {
      val g = next()
      if (!g.equalsIgnoreCase(t)) throw new IllegalArgumentException(
        s"SPARQL: expected '$t' but found '$g'")
    }
    private def kw(t: String): Boolean = peek.equalsIgnoreCase(t)

    private var prefixes: Map[String, String] = Vocab.namespaces
    private var hiddenIdx = -1
    private def freshHidden(): String = {
      hiddenIdx += 1; s"_path$hiddenIdx"
    }

    private def resolve(tok: String): String =
      if (tok.startsWith("<")) tok.substring(1, tok.length - 1)
      else {
        val c = tok.indexOf(':')
        require(c > 0, s"SPARQL: expected an IRI or pname, got '$tok'")
        val (p, local) = (tok.substring(0, c), tok.substring(c + 1))
        // SPARQL pnames are case-sensitive: `PREFIX Foo:` and
        // `PREFIX foo:` are distinct declarations.
        prefixes.get(p).map(_ + local).getOrElse(
          throw new IllegalArgumentException(
            s"SPARQL: undeclared prefix '$p'"))
      }

    private def term(): Term = {
      val t = next()
      if (t.startsWith("?")) V(t.substring(1))
      else if (t.startsWith("\"")) L(unquote(t))
      else I(resolve(t))
    }

    private def predIri(): String = {
      val t = next()
      if (t == "a") RdfType else resolve(t)
    }

    private def unquote(t: String): String =
      t.substring(1, t.length - 1)
        .replace("\\\"", "\"").replace("\\\\", "\\")

    private def step(): Step = {
      var neg = peek == "!"
      if (neg) next()
      var inv = peek == "^"
      if (inv) next()
      // `!^p` — a negated set of ONE inverse predicate — is, per
      // §18.2.2.5's translation, `reverse(NPS({p}))`: it matches
      // only reverse triples with predicate ∉ {p}, which is exactly
      // the endpoint-swapped negated scan already shipped as `^!S`
      // (`?a !^p ?b` ≡ `?a ^!p ?b` ≡ `?b !p ?a`) — desugared to it
      // below. Mixed sets `!(p|^q)` split per the spec into
      // `!(p) | !(^q)` (see the paren branch + [[mixedNegScan]]).
      val negInvSingle = neg && inv
      if (negInvSingle) {
        inv = false
        // grammar: after `!^` only a single predicate follows
        // (PathOneInPropertySet); `!^(...)` is not a production
        require(peek != "(",
          "SPARQL: expected a predicate after '!^'")
      }
      if (!neg && inv && peek == "!") { neg = true; next() }
      var seqPreds: Seq[String] = Nil
      var negInvPreds: Seq[String] = Nil
      var preds: Seq[String] =
        if (peek == "(") {
          next()
          val ps = Seq.newBuilder[String]
          val ips = Seq.newBuilder[String]
          def item(): Unit =
            if (neg && peek == "^") { next(); ips += predIri() }
            else ps += predIri()
          item()
          if (peek == "/") {
            // parenthesized SEQUENCE `(p1/p2/...)` — meaningful only
            // under a quantifier (closure over the composed relation);
            // unquantified it desugars to the plain step sequence
            require(!neg && !inv, "SPARQL: a negated or inverted " +
              "parenthesized sequence is not supported")
            while (peek == "/") { next(); ps += predIri() }
            expect(")")
            seqPreds = ps.result()
            Nil
          } else {
            while (peek == "|") { next(); item() }
            expect(")")
            negInvPreds = ips.result()
            ps.result()
          }
        } else Seq(predIri())
      if (negInvSingle) { negInvPreds = preds; preds = Nil }
      // normalize the negated-set shapes onto the two executable
      // plans: a PURE-inverse set is the endpoint-swapped negated
      // scan (`!(^p1|^p2)` ≡ `^!(p1|p2)`); a MIXED set keeps both
      // halves and unions two scans at evaluation. `^!(...^p...)`
      // (an inverse OF a set already containing inverses) stays a
      // loud rejection — no real query writes a double inverse.
      require(!(inv && negInvPreds.nonEmpty),
        "SPARQL: an inverted negated set containing inverse " +
          "predicates (^!(^p)) is not supported")
      if (neg && preds.isEmpty && negInvPreds.nonEmpty) {
        preds = negInvPreds
        negInvPreds = Nil
        inv = true
      }
      val plus = peek == "+"
      if (plus) next()
      val star = !plus && peek == "*"
      if (star) next()
      val zeroOne = !plus && !star && peek == "?"
      if (zeroOne) next()
      // bounded repetition {n} / {lo,hi} (the 1.1-draft quantifier
      // every mainstream engine kept): composition-ladder semantics,
      // so the upper bound is capped — an unbounded wish is `p+`
      val rep: Option[(Int, Int)] =
        if (!plus && !star && !zeroOne && peek == "{") {
          next()
          val lo = next().toInt
          val hi = if (peek == ",") { next(); next().toInt } else lo
          expect("}")
          require(lo >= 1 && hi >= lo && hi <= 12,
            s"SPARQL: p{$lo,$hi} out of the supported 1..12 range " +
              "(use p+ for an unbounded walk)")
          Some((lo, hi))
        } else None
      require(!(neg && (plus || star || zeroOne || rep.isDefined)),
        "SPARQL: a quantified negated property set is not supported")
      Step(inv, preds, plus, star, zeroOne, neg, seqPreds, rep,
        negInvPreds)
    }

    private def pathSteps(): Seq[Step] = {
      val out = Seq.newBuilder[Step]
      def add(): Unit = {
        val st = step()
        if (st.seqPreds.nonEmpty &&
            !(st.plus || st.star || st.zeroOne || st.rep.isDefined))
          // unquantified `(p1/p2)` desugars to the plain sequence —
          // the parens carry no meaning without a quantifier
          st.seqPreds.foreach(p =>
            out += Step(inv = false, Seq(p), plus = false,
              star = false, zeroOne = false))
        else out += st
      }
      add()
      while (peek == "/") { next(); add() }
      out.result()
    }

    /** `term path obj (';' path obj)* '.'?` — sequence paths thread
      * hidden `_pathN` variables; `^` swaps the emitted pattern's
      * endpoints. A bare `?var` in predicate position is a VARIABLE
      * predicate (no path operators compose with it). */
    private def triples(): Seq[Pattern] = {
      val s = term()
      val out = Seq.newBuilder[Pattern]
      def emit(steps: Seq[Step], obj: Term): Unit = {
        var cur: Term = s
        steps.zipWithIndex.foreach { case (st, k) =>
          val nxt = if (k == steps.size - 1) obj else V(freshHidden())
          if (st.inv) out += Pattern(nxt, st.preds, cur, st.plus,
            star = st.star, zeroOne = st.zeroOne, negated = st.neg,
            rep = st.rep)
          else out += Pattern(cur, st.preds, nxt, st.plus,
            star = st.star, zeroOne = st.zeroOne, negated = st.neg,
            seqPath = st.seqPreds, rep = st.rep,
            negInvPreds = st.negInvPreds)
          cur = nxt
        }
      }
      def segment(): Unit =
        if (peek.startsWith("?")) {
          val pv = next().substring(1)
          out += Pattern(s, Nil, term(), predVar = Some(pv))
        } else emit(pathSteps(), term())
      segment()
      while (peek == ";") { next(); segment() }
      if (peek == ".") next()
      out.result()
    }

    private def filterVar(): String = {
      val v = next()
      require(v.startsWith("?"), s"SPARQL: expected a var, got '$v'")
      v.substring(1)
    }

    private def stringArg(): String = {
      val s = next()
      require(s.startsWith("\""), s"SPARQL: expected a string, got '$s'")
      unquote(s)
    }

    private def cond(): FilterExpr = {
      if (kw("REGEX") || kw("CONTAINS") || kw("STRSTARTS") ||
          kw("STRENDS")) {
        val fun = next().toLowerCase
        expect("(")
        val v = filterVar()
        expect(",")
        val arg = stringArg()
        expect(")")
        TextCond(v, fun, arg)
      } else if (peek == "!" || kw("BOUND") || kw("ISIRI") ||
          kw("ISURI") || kw("ISLITERAL") || kw("ISBLANK")) {
        val positive = peek != "!"
        if (!positive) next()
        val fun = next().toUpperCase
        require(fun == "BOUND" || fun == "ISIRI" || fun == "ISURI" ||
          fun == "ISLITERAL" || fun == "ISBLANK",
          s"SPARQL: unsupported negated/unary filter '$fun'")
        expect("(")
        val v = filterVar()
        expect(")")
        if (fun == "BOUND") BoundCond(v, positive)
        // ISURI is the SPARQL synonym of ISIRI (§17.4.2.1)
        else KindCond(v,
          if (fun == "ISURI") "ISIRI" else fun, positive)
      } else if (kw("LANGMATCHES")) {
        next(); expect("(")
        expect("LANG"); expect("(")
        val v = filterVar()
        expect(")")
        expect(",")
        val tag = stringArg()
        expect(")")
        LangCond(v, tag)
      } else {
        val v = filterVar()
        if (kw("IN") ||
            (kw("NOT") && peek2.equalsIgnoreCase("IN"))) {
          val positive = !kw("NOT")
          if (!positive) next()
          expect("IN"); expect("(")
          val vals = Seq.newBuilder[String]
          def one(): Unit = {
            val tok = next()
            vals += (if (tok.startsWith("\"")) unquote(tok)
              else resolve(tok))
          }
          one()
          while (peek == ",") { next(); one() }
          expect(")")
          InCond(v, vals.result(), positive)
        } else {
          val op = next()
          require(Set("=", "!=", "<", "<=", ">", ">=").contains(op),
            s"SPARQL: unsupported FILTER op '$op'")
          val r = next()
          if (r.startsWith("?")) VarCond(v, op, r.substring(1))
          else Cond(v, op,
            if (r.startsWith("\"")) Right(unquote(r)) else Left(r.toLong))
        }
      }
    }

    /** `cond (('&&' | '||') cond)*` inside FILTER parens — a pure
      * `&&` chain yields the conjunction list, a pure `||` chain one
      * [[OrCond]]; MIXED chains are rejected loudly (split into
      * separate FILTERs) rather than silently mis-associated. */
    private def filterConds(): Seq[FilterExpr] = {
      val first = cond()
      if (peek == "||") {
        val alts = Seq.newBuilder[FilterExpr]
        alts += first
        while (peek == "||") { next(); alts += cond() }
        require(peek != "&&", "SPARQL: mixed &&/|| in one FILTER is " +
          "not supported — split into separate FILTERs")
        val out = alts.result()
        out.foreach {
          case _: LangCond | _: KindCond =>
            throw new IllegalArgumentException("SPARQL: a binding-" +
              "site condition (LANGMATCHES/ISIRI/...) cannot appear " +
              "in a disjunction")
          case _ =>
        }
        Seq(OrCond(out))
      } else {
        val cs = Seq.newBuilder[FilterExpr]
        cs += first
        while (peek == "&&") { next(); cs += cond() }
        require(peek != "||", "SPARQL: mixed &&/|| in one FILTER is " +
          "not supported — split into separate FILTERs")
        cs.result()
      }
    }

    /** `fun '(' DISTINCT? (* | ?var) (';' separator '=' "s")? ')'` —
      * the agg call shared by select items and HAVING. DISTINCT is
      * accepted on COUNT only: under the front-end's set-semantics
      * grouping the other aggregates are DISTINCT-insensitive
      * (MIN/MAX/SAMPLE) or out of its exact-arithmetic scope. */
    private def aggCall(): (String, Option[String], String, Boolean) = {
      val fun = next().toUpperCase
      require(AggFuns.contains(fun), s"SPARQL: unsupported aggregate '$fun'")
      expect("(")
      val distinct = kw("DISTINCT")
      if (distinct) {
        next()
        require(fun == "COUNT",
          s"SPARQL: DISTINCT is supported on COUNT only, not $fun")
      }
      val arg =
        if (peek == "*") {
          next()
          require(fun == "COUNT", s"SPARQL: $fun(*) is not an aggregate")
          require(!distinct,
            "SPARQL: COUNT(DISTINCT *) is not supported")
          None
        } else {
          val v = next()
          require(v.startsWith("?"),
            s"SPARQL: aggregate argument must be a var, got '$v'")
          Some(v.substring(1))
        }
      var sep = " " // the SPARQL default separator
      if (peek == ";") {
        next()
        val k = next()
        require(k.equalsIgnoreCase("separator"),
          s"SPARQL: expected 'separator', got '$k'")
        expect("=")
        val sTok = next()
        require(sTok.startsWith("\""), "SPARQL: separator must be a string")
        sep = unquote(sTok)
      }
      expect(")")
      (fun, arg, sep, distinct)
    }

    /** `BIND ( expr AS ?v )` — expr is one of the supported string
      * functions over vars and string literals. */
    private def bind(): Bind = {
      expect("(")
      // arithmetic opens with a ?var, an integer, or a paren;
      // everything else is a named function call
      def opensArith(t: String) = t.startsWith("?") || t == "(" ||
        (t.nonEmpty && t.forall(_.isDigit)) ||
        (t.startsWith("-") && t.length > 1 &&
          t.drop(1).forall(_.isDigit))
      val e: BindExpr =
        if (opensArith(peek)) arithChain() else bindCall()
      expect("AS")
      val as = filterVar()
      expect(")")
      Bind(as, e)
    }

    /** Precedence-climbing integer arithmetic: primary is a `?var`,
      * an integer literal, or a parenthesized sub-expression; `*`
      * binds tighter than additive. Subtraction arrives as
      * negative-integer tokens (the tokenizer has no bare `-`) and
      * folds as `+ (-n)` — including as the FIRST factor of a
      * multiplicative run, so `?v -2 * 3` associates as
      * `?v + ((-2) * 3)`, the SPARQL reading. */
    private def arithChain(): BindExpr = {
      def isInt(t: String) = t.nonEmpty && t.forall(_.isDigit)
      def isNegInt(t: String) = t.startsWith("-") && t.length > 1 &&
        t.drop(1).forall(_.isDigit)
      def primary(): ArithE =
        if (peek == "(") { next(); val e = addE(); expect(")"); e }
        else if (peek.startsWith("?")) AVar(filterVar())
        else {
          val t = next()
          require(isInt(t) || isNegInt(t),
            s"SPARQL: expected ?var, integer or '(' in arithmetic, " +
              s"got '$t'")
          ANum(t.toLong)
        }
      def mulE(first: ArithE): ArithE = {
        var e = first
        while (peek == "*") { next(); e = ABin("*", e, primary()) }
        e
      }
      def addE(): ArithE = {
        var e = mulE(primary())
        while (peek == "+" || isNegInt(peek)) {
          val rhs =
            if (isNegInt(peek)) mulE(ANum(next().toLong))
            else { next(); mulE(primary()) }
          e = ABin("+", e, rhs)
        }
        e
      }
      val e = addE()
      require(!e.isInstanceOf[AVar],
        "SPARQL: bare-variable BIND is not supported")
      BArith(e)
    }

    private def bindCall(): BindExpr = {
      val fun = next().toUpperCase
      fun match {
        case "IF" =>
          expect("(")
          val c = cond()
          c match {
            case _: LangCond | _: KindCond =>
              throw new IllegalArgumentException(
                "SPARQL: IF over a binding-site condition " +
                  "(LANGMATCHES/ISIRI/...) is not supported")
            case _ =>
          }
          expect(",")
          def part(): Either[String, String] =
            if (peek.startsWith("?")) Left(next().substring(1))
            else Right(stringArg())
          val t = part()
          expect(",")
          val e = part()
          expect(")")
          BIf(c, t, e)
        case "STR" | "LANG" | "DATATYPE" =>
          expect("(")
          val v = filterVar()
          expect(")")
          BTermFn(fun, v)
        case other => bindStrCall(other)
      }
    }

    private def bindStrCall(fun: String): BindExpr = {
      val e: BindExpr = fun match {
        case "UCASE" | "LCASE" | "STRLEN" =>
          expect("(")
          val v = filterVar()
          expect(")")
          BFun1(fun, v)
        case "REPLACE" =>
          expect("(")
          val v = filterVar()
          expect(",")
          val pat = stringArg()
          expect(",")
          val rep = stringArg()
          expect(")")
          BReplace(v, pat, rep)
        case "CONCAT" | "COALESCE" =>
          expect("(")
          val parts = Seq.newBuilder[Either[String, String]]
          def part(): Unit = {
            val t = peek
            if (t.startsWith("?")) parts += Left(next().substring(1))
            else parts += Right(stringArg())
          }
          part()
          while (peek == ",") { next(); part() }
          expect(")")
          if (fun == "CONCAT") BConcat(parts.result())
          else BCoalesce(parts.result())
        case "SUBSTR" =>
          expect("(")
          val v = filterVar()
          expect(",")
          val start = next().toInt
          require(start >= 1, "SPARQL: SUBSTR start is 1-based")
          val len = if (peek == ",") { next(); Some(next().toInt) }
            else None
          expect(")")
          BSubstr(v, start, len)
        case "STRBEFORE" | "STRAFTER" =>
          expect("(")
          val v = filterVar()
          expect(",")
          val sep = stringArg()
          require(sep.nonEmpty,
            s"SPARQL: $fun with an empty separator is not supported")
          expect(")")
          BStrBA(v, sep, before = fun == "STRBEFORE")
        case other => throw new IllegalArgumentException(
          s"SPARQL: unsupported BIND function '$other'")
      }
      e
    }

    /** `VALUES ?v { value+ }` — single-variable inline data; values
      * are string literals or IRIs/pnames (resolved). */
    private def valuesClause(): ValuesClause = {
      val v = filterVar()
      expect("{")
      val vals = Seq.newBuilder[String]
      while (peek != "}") {
        val t = next()
        vals += (if (t.startsWith("\"")) unquote(t)
          else resolve(t))
      }
      expect("}")
      val out = vals.result()
      require(out.nonEmpty, "SPARQL: empty VALUES block")
      ValuesClause(v, out)
    }

    /** Group body: triples / OPTIONAL / FILTER / VALUES / BIND until
      * `}` (consumed by the caller). OPTIONAL is legal inside
      * UNION branches. */
    private def groupBody(): Group = {
      val req = Seq.newBuilder[Pattern]
      val opts = Seq.newBuilder[Seq[Pattern]]
      val fils = Seq.newBuilder[FilterExpr]
      val vals = Seq.newBuilder[ValuesClause]
      val bnds = Seq.newBuilder[Bind]
      val subs = Seq.newBuilder[Query]
      val mins = Seq.newBuilder[Seq[Pattern]]
      val ofils = Seq.newBuilder[Seq[FilterExpr]]
      val exis = Seq.newBuilder[(Boolean, Seq[Pattern])]
      val svcs = Seq.newBuilder[ServiceClause]
      while (peek != "}") {
        if (kw("OPTIONAL")) {
          next(); expect("{")
          val ps = Seq.newBuilder[Pattern]
          val fs = Seq.newBuilder[FilterExpr]
          while (peek != "}") {
            if (kw("FILTER")) {
              next(); expect("(")
              fs ++= filterConds()
              expect(")")
            } else ps ++= triples()
          }
          expect("}")
          val block = ps.result()
          require(block.nonEmpty, "SPARQL: empty OPTIONAL block")
          opts += block
          ofils += fs.result()
        } else if (kw("MINUS")) {
          next(); expect("{")
          mins += triples()
          expect("}")
        } else if (kw("GRAPH")) {
          // `GRAPH term { triples }` — scope the block's patterns to
          // a named graph (constant) or bind the graph id (var)
          next()
          val gt = term()
          require(!gt.isInstanceOf[L],
            "SPARQL: GRAPH needs an IRI or a variable")
          expect("{")
          val ps = Seq.newBuilder[Pattern]
          while (peek != "}") ps ++= triples()
          expect("}")
          req ++= ps.result().map(_.copy(graphCtx = Some(gt)))
        } else if (kw("FILTER")) {
          next()
          // `FILTER EXISTS { p }` / `FILTER NOT EXISTS { p }` — no
          // parens in the SPARQL grammar for these forms
          val neg = kw("NOT")
          if (neg) next()
          if (kw("EXISTS")) {
            next(); expect("{")
            val ps = Seq.newBuilder[Pattern]
            while (peek != "}") ps ++= triples()
            expect("}")
            val block = ps.result()
            require(block.nonEmpty, "SPARQL: empty EXISTS block")
            exis += ((!neg, block))
          } else {
            require(!neg, "SPARQL: expected EXISTS after FILTER NOT")
            expect("(")
            fils ++= filterConds()
            expect(")")
          }
        } else if (kw("SERVICE")) {
          // §13.3 federated query: a constant endpoint plus a basic
          // graph pattern this engine serializes back to a
          // `SELECT *` and evaluates through the ServiceClient seam
          // at compile time; results join on shared variables
          next()
          val silent = kw("SILENT")
          if (silent) next()
          val ep = term() match {
            case I(iri) => iri
            case _ => throw new IllegalArgumentException(
              "SPARQL: SERVICE needs a constant endpoint IRI " +
                "(variable endpoints are not supported)")
          }
          expect("{")
          val ps = Seq.newBuilder[Pattern]
          val sfs = Seq.newBuilder[FilterExpr]
          while (peek != "}") {
            if (kw("FILTER")) {
              next(); expect("(")
              sfs ++= filterConds()
              expect(")")
            } else ps ++= triples()
          }
          expect("}")
          val block = ps.result()
          require(block.nonEmpty, "SPARQL: empty SERVICE block")
          block.foreach { p =>
            require(!p.closed && p.preds.size == 1 &&
              p.predVar.isEmpty && p.graphCtx.isEmpty &&
              !p.negated && p.seqPath.isEmpty,
              "SPARQL: SERVICE blocks support plain triple " +
                "patterns only (no paths/GRAPH) — the subset the " +
                "engine can serialize back to the remote query")
          }
          val sfilters = sfs.result()
          sfilters.foreach {
            case _: LangCond | _: KindCond =>
              throw new IllegalArgumentException("SPARQL: " +
                "LANGMATCHES/ISIRI/... inside SERVICE is not " +
                "supported — remote frames are lexical (no term " +
                "metadata to re-check locally)")
            case _ =>
          }
          svcs += ServiceClause(ep, silent, block, sfilters)
        } else if (kw("VALUES")) {
          next()
          vals += valuesClause()
        } else if (kw("BIND")) {
          next()
          bnds += bind()
        } else if (peek == "{" && peek2.equalsIgnoreCase("SELECT")) {
          // `{ SELECT ... }` — a subquery, evaluated independently
          // (its own aggregates/modifiers) and joined on shared vars
          next()
          subs += queryBody()
          expect("}")
        } else req ++= triples()
      }
      val g = Group(req.result(), opts.result(), fils.result(),
        vals.result(), bnds.result(), subs.result(), mins.result(),
        ofils.result(), exis.result(), svcs.result())
      require(g.required.nonEmpty || g.subs.nonEmpty ||
        g.services.nonEmpty, "SPARQL: empty WHERE group")
      g
    }

    def query(): Query = {
      val q = queryBody()
      require(i == ts.size, s"SPARQL: trailing tokens at '${peek}'")
      q
    }

    private def prefixDecls(): Unit =
      while (kw("PREFIX")) {
        next()
        val p = next()
        require(p.endsWith(":"), s"SPARQL: bad prefix decl '$p'")
        val iri = next()
        require(iri.startsWith("<"), s"SPARQL: prefix IRI must be <...>")
        prefixes += (p.dropRight(1) ->
          iri.substring(1, iri.length - 1))
      }

    /** Dispatch on the query FORM keyword after the prefix decls:
      * SELECT / ASK / CONSTRUCT / DESCRIBE. */
    def form(): Parsed = {
      prefixDecls()
      val parsed: Parsed =
        if (kw("SELECT")) PSelect(queryBody())
        else if (kw("ASK")) {
          next(); expect("{")
          val g = groupBody()
          expect("}")
          PAsk(Query(Seq.empty, Seq(g), Nil, Nil, false, Nil, None, None))
        } else if (kw("CONSTRUCT")) {
          next(); expect("{")
          val template = templateBlock()
          expect("WHERE"); expect("{")
          val g = groupBody()
          expect("}")
          PConstruct(template,
            Query(Seq.empty, Seq(g), Nil, Nil, false, Nil, None, None))
        } else if (kw("DESCRIBE")) {
          next()
          if (peek.startsWith("?")) {
            val v = filterVar()
            expect("WHERE"); expect("{")
            val g = groupBody()
            expect("}")
            PDescribeVar(v,
              Query(Seq(Left(v)), Seq(g), Nil, Nil, false, Nil, None,
                None))
          } else PDescribeIri(resolve(next()))
        } else throw new IllegalArgumentException(
          s"SPARQL: expected SELECT/ASK/CONSTRUCT/DESCRIBE, got '$peek'")
      require(i == ts.size, s"SPARQL: trailing tokens at '$peek'")
      parsed
    }

    /** A `{ pattern* }` template block (the opening `{` already
      * consumed; consumes the `}`): non-empty, single constant
      * predicates, no paths. Shared by CONSTRUCT and the UPDATE
      * forms. */
    private def templateBlock(): Seq[Pattern] = {
      val tm = Seq.newBuilder[Pattern]
      while (peek != "}") tm ++= triples()
      expect("}")
      val out = tm.result()
      require(out.nonEmpty, "SPARQL: empty template")
      out.foreach { p =>
        require(p.predVar.isEmpty && !p.closed && p.preds.size == 1 &&
          !varsOf(p).exists(isHidden),
          "SPARQL: template patterns must use a single constant " +
            "predicate (no paths)")
      }
      out
    }

    /** A `{ constant-triple* }` data block for INSERT/DELETE DATA. */
    private def constBlock(): Seq[ConstTriple] = {
      expect("{")
      templateBlock().map { p =>
        val s = p.s match {
          case I(x) => x
          case _ => throw new IllegalArgumentException(
            "SPARQL: INSERT/DELETE DATA requires constant subjects")
        }
        p.o match {
          case V(_) => throw new IllegalArgumentException(
            "SPARQL: INSERT/DELETE DATA requires constant objects")
          case o => ConstTriple(s, p.preds.head, o)
        }
      }
    }

    /** One SPARQL UPDATE request:
      * `INSERT DATA { consts }` | `DELETE DATA { consts }` |
      * `DELETE WHERE { patterns }` |
      * `DELETE { tmpl }? INSERT { tmpl }? WHERE { body }`. */
    /** `GRAPH <iri>` or `DEFAULT` — the graph designators the
      * transfer verbs and CLEAR share. */
    private def graphRef(): String =
      if (kw("DEFAULT")) { next(); "default" }
      else {
        if (kw("GRAPH")) next()
        resolve(next())
      }

    def update(): Update = {
      prefixDecls()
      val u: Update =
        if (kw("CLEAR")) {
          next()
          if (kw("ALL")) { next(); UClear(" all") }
          else if (kw("NAMED")) { next(); UClear(" named") }
          else UClear(graphRef())
        } else if (kw("ADD") || kw("COPY") || kw("MOVE")) {
          val op = peek.toUpperCase
          next()
          val from = graphRef()
          expect("TO")
          UGraphXfer(op, from, graphRef())
        } else if (kw("INSERT")) {
          next()
          if (kw("DATA")) { next(); UInsertData(constBlock()) }
          else {
            expect("{")
            val ins = templateBlock()
            expect("WHERE"); expect("{")
            val g = groupBody()
            expect("}")
            UModify(Nil, ins,
              Query(Seq.empty, Seq(g), Nil, Nil, false, Nil, None, None))
          }
        } else if (kw("DELETE")) {
          next()
          if (kw("DATA")) { next(); UDeleteData(constBlock()) }
          else if (kw("WHERE")) {
            next(); expect("{")
            val g = groupBody()
            expect("}")
            require(g.optionals.isEmpty,
              "SPARQL: OPTIONAL in DELETE WHERE is not supported")
            g.required.foreach { p =>
              require(p.predVar.isEmpty && !p.closed && p.preds.size == 1 &&
                !varsOf(p).exists(isHidden),
                "SPARQL: DELETE WHERE patterns must use a single " +
                  "constant predicate (no paths)")
            }
            UModify(g.required, Nil,
              Query(Seq.empty, Seq(g), Nil, Nil, false, Nil, None, None))
          } else {
            expect("{")
            val del = templateBlock()
            val ins =
              if (kw("INSERT")) { next(); expect("{"); templateBlock() }
              else Nil
            expect("WHERE"); expect("{")
            val g = groupBody()
            expect("}")
            UModify(del, ins,
              Query(Seq.empty, Seq(g), Nil, Nil, false, Nil, None, None))
          }
        } else throw new IllegalArgumentException(
          s"SPARQL: expected INSERT or DELETE, got '$peek'")
      require(i == ts.size, s"SPARQL: trailing tokens at '$peek'")
      u
    }

    /** One SELECT query (without the end-of-input check) — also the
      * subquery production: `{ SELECT ... }` parses the same body. */
    private def queryBody(): Query = {
      prefixDecls()
      expect("SELECT")
      val dist = kw("DISTINCT")
      if (dist) next()
      val items = Seq.newBuilder[Either[String, Agg]]
      var star = false
      if (peek == "*") { next(); star = true }
      else {
        var more = true
        while (more) {
          if (peek.startsWith("?")) items += Left(next().substring(1))
          else if (peek == "(") {
            next()
            val (fun, arg, sep, dist) = aggCall()
            expect("AS")
            val nm = next()
            require(nm.startsWith("?"),
              s"SPARQL: aggregate alias must be a var, got '$nm'")
            items += Right(Agg(fun, arg, sep, nm.substring(1), dist))
            expect(")")
          } else more = false
        }
      }
      // §13.2 dataset clause: FROM builds the explicit default
      // graph (a merge), FROM NAMED the explicit named-graph set
      val fromG = Seq.newBuilder[String]
      val fromN = Seq.newBuilder[String]
      while (kw("FROM")) {
        next()
        if (kw("NAMED")) { next(); fromN += resolve(next()) }
        else fromG += resolve(next())
      }
      expect("WHERE"); expect("{")
      val groups: Seq[Group] =
        if (peek == "{" && !peek2.equalsIgnoreCase("SELECT")) {
          // braced groups: `{ A } UNION { B } (UNION { C })*`
          val gs = Seq.newBuilder[Group]
          def braced(): Group = {
            expect("{")
            val g = groupBody()
            expect("}")
            g
          }
          gs += braced()
          while (kw("UNION")) { next(); gs += braced() }
          gs.result()
        } else Seq(groupBody())
      expect("}")
      val gb = Seq.newBuilder[String]
      if (kw("GROUP")) {
        next(); expect("BY")
        while (peek.startsWith("?")) gb += next().substring(1)
        require(gb.result().nonEmpty, "SPARQL: empty GROUP BY")
      }
      val hav = Seq.newBuilder[(Agg, String, Long)]
      if (kw("HAVING")) {
        next(); expect("(")
        val (fun, arg, sep, dist) = aggCall()
        val op = next()
        require(Set("=", "!=", "<", "<=", ">", ">=").contains(op),
          s"SPARQL: unsupported HAVING op '$op'")
        hav += ((Agg(fun, arg, sep, "", dist), op, next().toLong))
        expect(")")
      }
      val order = Seq.newBuilder[(String, Boolean)]
      if (kw("ORDER")) {
        next(); expect("BY")
        var more = true
        while (more) {
          if (peek.startsWith("?")) order += ((next().substring(1), true))
          else if (kw("ASC") || kw("DESC")) {
            val asc = kw("ASC")
            next(); expect("(")
            val v = next()
            require(v.startsWith("?"), s"SPARQL: ORDER BY key must " +
              s"be a var, got '$v'")
            expect(")")
            order += ((v.substring(1), asc))
          } else more = false
        }
        require(order.result().nonEmpty, "SPARQL: empty ORDER BY")
      }
      // LIMIT/OFFSET accept either textual order; application order
      // is fixed by SPARQL (OFFSET skips, then LIMIT caps)
      var limit: Option[Int] = None
      var offset: Option[Int] = None
      while (kw("LIMIT") || kw("OFFSET")) {
        val isLimit = kw("LIMIT")
        next()
        val n = Some(next().toInt)
        if (isLimit) { require(limit.isEmpty, "SPARQL: duplicate LIMIT")
          limit = n }
        else { require(offset.isEmpty, "SPARQL: duplicate OFFSET")
          offset = n }
      }
      require(offset.isEmpty || order.result().nonEmpty,
        "SPARQL: OFFSET without ORDER BY is nondeterministic — add an " +
          "ORDER BY")
      val itemSeq = items.result()
      require(star || itemSeq.nonEmpty, "SPARQL: empty SELECT list")
      val q = Query(if (star) Seq.empty else itemSeq,
        groups, gb.result(), hav.result(), dist,
        order.result(), limit, offset, fromG.result(), fromN.result())
      q
    }
  }

  // ---- compiler ----

  private def varsOf(p: Pattern): Seq[String] =
    (Seq(p.s, p.o).collect { case V(n) => n }) ++ p.predVar ++
      (p.graphCtx match { case Some(V(n)) => Seq(n); case _ => Nil })

  /** The variable names a (sub)query's result binds — its SELECT
    * list, or every visible variable for SELECT *. */
  private def projectedVars(q: Query): Seq[String] =
    if (q.selectItems.nonEmpty)
      q.selectItems.map { case Left(v) => v; case Right(a) => a.as }
    else
      (q.groups.flatMap(g =>
        (g.required ++ g.optionals.flatten).flatMap(varsOf) ++
          g.binds.map(_.as) ++ g.subs.flatMap(projectedVars)))
        .distinct.filterNot(isHidden)

  private def isHidden(v: String): Boolean = v.startsWith("_path")

  def compile(t: DataFrame, q: Query,
      closureOf: ClosureProvider = NoClosure,
      svc: ServiceClient = HttpServiceClient): DataFrame = {
    val allPats = q.groups.flatMap(g => g.required ++ g.optionals.flatten)
    requireGraphColumn(t, q, allPats)
    val patVars = (allPats.flatMap(varsOf) ++
      q.groups.flatMap(_.subs.flatMap(projectedVars)) ++
      q.groups.flatMap(_.services.flatMap(_.patterns.flatMap(varsOf))))
      .distinct
    // BIND targets are bound vars too: each must be fresh, and may
    // reference only pattern vars or EARLIER binds in its group
    q.groups.foreach { g =>
      var bound = patVars.toSet
      g.binds.foreach { b =>
        require(!bound.contains(b.as),
          s"SPARQL: BIND target ?${b.as} is already bound")
        val refs = b.expr match {
          case BFun1(_, v) => Seq(v)
          case BReplace(v, _, _) => Seq(v)
          case BConcat(parts) => parts.collect { case Left(v) => v }
          case BSubstr(v, _, _) => Seq(v)
          case BStrBA(v, _, _) => Seq(v)
          case BCoalesce(parts) => parts.collect { case Left(v) => v }
          case BArith(e) =>
            def vs(a: ArithE): Seq[String] = a match {
              case AVar(v) => Seq(v)
              case ABin(_, l, r) => vs(l) ++ vs(r)
              case _ => Nil
            }
            vs(e)
          case BIf(c, tp, ep) =>
            Seq(c.v) ++ Seq(tp, ep).flatMap(_.left.toOption)
          case BTermFn(_, v) => Seq(v)
        }
        val missing = refs.filterNot(bound.contains)
        require(missing.isEmpty, s"SPARQL: BIND references unbound " +
          s"var(s) ${missing.mkString(", ")}")
        bound += b.as
      }
      g.values.foreach { vc =>
        require(g.required.flatMap(varsOf).contains(vc.v),
          s"SPARQL: VALUES ?${vc.v} must be bound by a required pattern")
      }
      // OPTIONAL-block filters constrain the optional side BEFORE
      // the left join; their vars must be block-bound
      g.optionals.zip(g.optFiltersPadded).foreach { case (ps, fs) =>
        fs.foreach {
          case _: LangCond => throw new IllegalArgumentException(
            "SPARQL: LANGMATCHES inside OPTIONAL is not supported")
          case _: KindCond => throw new IllegalArgumentException(
            "SPARQL: ISIRI/ISLITERAL/ISBLANK inside OPTIONAL is " +
              "not supported")
          case f =>
            val missing =
              filterVarsOf(f).filterNot(ps.flatMap(varsOf).contains)
            require(missing.isEmpty,
              s"SPARQL: OPTIONAL filter var(s) " +
                s"${missing.map("?" + _).mkString(", ")} not bound " +
                "in their block")
        }
      }
    }
    val bindVars = q.groups.flatMap(_.binds.map(_.as)).distinct
    val allVars = patVars ++ bindVars
    val visibleVars = allVars.filterNot(isHidden)
    val hasAggs = q.selectItems.exists(_.isRight)
    val aggMode = hasAggs || q.groupBy.nonEmpty
    require(!(aggMode && q.selectItems.isEmpty),
      "SPARQL: SELECT * cannot be combined with aggregates/GROUP BY")
    val plainVars = q.selectItems.collect { case Left(v) => v }
    val select: Seq[String] =
      if (q.selectItems.nonEmpty)
        q.selectItems.map { case Left(v) => v; case Right(a) => a.as }
      else visibleVars
    val unknown =
      plainVars.filterNot(allVars.contains) ++
        q.groups.flatMap(_.filters).flatMap(filterVarsOf)
          .filterNot(allVars.contains) ++
        q.groupBy.filterNot(allVars.contains) ++
        (q.selectItems.collect { case Right(a) => a.arg }.flatten ++
          q.having.flatMap(_._1.arg)).filterNot(allVars.contains)
    require(unknown.isEmpty,
      s"SPARQL: unbound variable(s) ${unknown.distinct.mkString(", ")}")
    q.groups.foreach { g =>
      g.filters.collect { case lc: LangCond => lc }.foreach { lc =>
        val bound = (g.required ++ g.optionals.flatten)
          .exists(p => !p.closed && p.o == V(lc.v))
        require(bound, s"SPARQL: LANGMATCHES(LANG(?${lc.v})) requires " +
          s"?${lc.v} bound as a literal object in its group")
      }
      // binding-site conditions and term accessors need the var bound
      // as an OBJECT of a plain pattern in the same group (that scan
      // is where the kind filter / metadata threading applies)
      g.filters.collect { case kc: KindCond => kc.v }.foreach { v =>
        val bound = (g.required ++ g.optionals.flatten)
          .exists(p => !p.closed && p.o == V(v))
        require(bound, s"SPARQL: ISIRI/ISLITERAL/ISBLANK(?$v) " +
          s"requires ?$v bound as an object in its group")
      }
      g.binds.map(_.expr)
        .collect { case BTermFn(f, v) if f != "STR" => v }
        .foreach { v =>
          val n = (g.required ++ g.optionals.flatten)
            .count(p => !p.closed && p.o == V(v))
          // same ambiguity rule as CONSTRUCT metadata threading: a
          // multi-object-bound var would put the hidden metadata
          // columns into join keys with null-unsafe equality
          require(n == 1, s"SPARQL: LANG/DATATYPE(?$v) requires ?$v " +
            s"object-bound by exactly one pattern in its group " +
            s"(found $n)")
        }
    }
    if (aggMode) {
      val offKey = plainVars.filterNot(q.groupBy.contains)
      require(offKey.isEmpty,
        s"SPARQL: projected var(s) ${offKey.mkString(", ")} not in GROUP BY")
    } else require(q.having.isEmpty, "SPARQL: HAVING requires aggregates")
    val badKeys = q.orderBy.map(_._1).filterNot(select.contains)
    require(badKeys.isEmpty,
      s"SPARQL: ORDER BY key(s) ${badKeys.mkString(", ")} not in the " +
        "projection")

    val base: DataFrame =
      if (q.groups.size > 1) compileUnion(t, q, closureOf, svc)
      else {
        val g = q.groups.head
        val gPats = g.required ++ g.optionals.flatten
        val subjVar = g.required.headOption.flatMap(_.s match {
          case V(n) => Some(n)
          case _ => None
        })
        val starShaped = !aggMode && g.values.isEmpty &&
          g.binds.isEmpty && g.subs.isEmpty && g.minuses.isEmpty &&
          g.exists.isEmpty && g.services.isEmpty &&
          g.optFilters.forall(_.isEmpty) &&
          subjVar.exists { sv =>
          gPats.forall(p => !p.closed && p.preds.size == 1 &&
            !p.negated && p.graphCtx.isEmpty &&
            p.s == V(sv) && (p.o match {
              case V(n) => n != sv
              case _ => true
            })) &&
            gPats.flatMap(_.o match { case V(n) => Seq(n); case _ => Nil })
              .groupBy(identity).forall(_._2.size == 1) &&
            (g.required.size + g.optionals.flatten.size) >= 2
        }
        if (starShaped) pivot(t, q, g, subjVar.get)
        else joinsGroup(t, q, g, closureOf = closureOf, svc = svc)
      }

    val agged: DataFrame =
      if (!aggMode) base
      else {
        val selAggs = q.selectItems.collect { case Right(a) => a }
        // HAVING aggregates that match a projected one filter on its
        // column; the rest ride the same exchange as hidden columns,
        // dropped after the filter
        val hidden = q.having.map(_._1)
          .filterNot(h => selAggs.exists(a =>
            a.fun == h.fun && a.arg == h.arg && a.distinct == h.distinct))
          .zipWithIndex.map { case (h, k) => h.copy(as = s"_h$k") }
        val aggCols = (selAggs ++ hidden).map(aggColumn(q))
        require(aggCols.nonEmpty, "SPARQL: GROUP BY without aggregates")
        val grouped = base.groupBy(q.groupBy.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
        val filtered = q.having.foldLeft(grouped) { case (df, (h, op, rhs)) =>
          val alias = selAggs.find(a => a.fun == h.fun &&
              a.arg == h.arg && a.distinct == h.distinct)
            .map(_.as)
            .getOrElse(hidden.find(x => x.fun == h.fun &&
              x.arg == h.arg && x.distinct == h.distinct).get.as)
          df.filter(binop(col(alias), op, lit(rhs)))
        }
        hidden.foldLeft(filtered)((df, h) => df.drop(h.as))
      }

    val projected = agged.select(select.map(col): _*)
    val distinct = if (q.distinct) projected.distinct() else projected
    val ordered =
      if (q.orderBy.isEmpty) distinct
      else distinct.orderBy(q.orderBy.map { case (v, asc) =>
        if (asc) col(v).asc else col(v).desc
      }: _*)
    // SPARQL's fixed application order: OFFSET skips, LIMIT caps.
    // Over an ORDER BY both plan as one bounded top-(offset+limit)
    // heap (TakeOrderedAndProject carries the offset), never a full
    // sort + global skip.
    val skipped = q.offset.fold(ordered)(ordered.offset)
    q.limit.fold(skipped)(skipped.limit)
  }

  /** Numeric variables: any var some FILTER compares to an integer,
    * or a SUM aggregates — its binding is cast to int (inside the
    * pivot aggregate / scan projection, so the compiled plan matches
    * the hand-built star's `min(when(..., obj.cast("int")))`). */
  /** Every variable a FILTER references (OR alternatives and var-var
    * comparisons included). */
  private def filterVarsOf(f: FilterExpr): Seq[String] = f match {
    case OrCond(alts) => alts.flatMap(filterVarsOf)
    case VarCond(a, _, b) => Seq(a, b)
    case c => Seq(c.v)
  }

  /** Flatten OR alternatives for per-condition analyses. */
  private def flatConds(f: FilterExpr): Seq[FilterExpr] = f match {
    case OrCond(alts) => alts.flatMap(flatConds)
    case c => Seq(c)
  }

  private def numericVars(q: Query): Set[String] =
    q.groups.flatMap(g => g.filters ++ g.optFilters.flatten)
      .flatMap(flatConds).collect {
      case Cond(v, _, Left(_)) => v
    }.toSet ++
      (q.selectItems.collect { case Right(a) => a } ++ q.having.map(_._1))
        .collect {
          case Agg("SUM", Some(v), _, _, _) => v
          case Agg("AVG", Some(v), _, _, _) => v
        }

  /** Vars already bound-and-constrained by a FILTER comparison or
    * string predicate — both reject NULL themselves, so the
    * required-pattern isNotNull would be redundant (and the
    * hand-built forms omit it). LANGMATCHES is NOT included: it
    * narrows which triples can bind, not whether a binding row
    * survives. */
  private def filteredVars(q: Query): Set[String] =
    q.groups.flatMap(_.filters).collect {
      case c: Cond => c.v
      case tc: TextCond => tc.v
    }.toSet

  /** The scan-side `obj_lang` requirement per variable, from
    * LANGMATCHES filters — applied where the variable is BOUND. */
  private def langReqs(g: Group): Map[String, String] =
    g.filters.collect { case LangCond(v, tag) => v -> tag }.toMap

  private def langCol(tag: String): Column =
    if (tag == "*") col("obj_lang").isNotNull
    else col("obj_lang") === tag

  /** The scan-side term-kind requirements per variable, from
    * ISIRI/ISLITERAL/ISBLANK filters — applied where the variable
    * is BOUND, like [[langReqs]]. */
  private def kindReqs(g: Group): Map[String, Seq[KindCond]] =
    g.filters.collect { case kc: KindCond => kc }.groupBy(_.v)

  private def kindCol(kc: KindCond): Column = {
    val kind = kc.fun match {
      case "ISIRI" => "iri"
      case "ISLITERAL" => "literal"
      case "ISBLANK" => "bnode"
    }
    if (kc.positive) col("obj_kind") === kind
    else col("obj_kind") =!= kind
  }

  private def binop(l: Column, op: String, r: Column): Column = op match {
    case "=" => l === r
    case "!=" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
  }

  /** A post-scan filter condition over the binding column (LangCond
    * never reaches here — it is consumed at the binding site). */
  private def condCol(c: FilterExpr, v: Column): Column = c match {
    case Cond(_, op, rhs) =>
      binop(v, op, rhs match {
        case Left(n) => lit(n.toInt)
        case Right(s) => lit(s)
      })
    case TextCond(_, "regex", p) => v.rlike(p)
    case TextCond(_, "strstarts", s) => v.startsWith(s)
    case TextCond(_, "strends", s) => v.endsWith(s)
    case TextCond(_, _, s) => v.contains(s)
    case BoundCond(_, positive) =>
      if (positive) v.isNotNull else v.isNull
    case InCond(_, vals, positive) =>
      // NULL isin NULL-propagates, so filter() drops unbound rows
      // either way — SPARQL's error-on-unbound rule for free
      if (positive) v.isin(vals: _*) else !v.isin(vals: _*)
    case _: LangCond => throw new IllegalStateException(
      "LANGMATCHES is compiled at the binding site")
    case _: KindCond => throw new IllegalStateException(
      "ISIRI/ISLITERAL/ISBLANK is compiled at the binding site")
    case _: VarCond | _: OrCond => throw new IllegalStateException(
      "multi-variable conditions compile via condColR")
  }

  /** [[condCol]] with a variable→column resolver — for conditions
    * referencing several variables (OR alternatives, var-var
    * comparisons) and for the pivot's subject-column substitution. */
  private def condColR(c: FilterExpr,
      resolve: String => Column): Column = c match {
    case OrCond(alts) => alts.map(condColR(_, resolve)).reduce(_ || _)
    case VarCond(a, op, b) => binop(resolve(a), op, resolve(b))
    case other => condCol(other, resolve(other.v))
  }

  /** One aggregate column — the hand-built forms' exact spellings:
    * COUNT(*) = count(lit(1)), GROUP_CONCAT = array_join(sort_array(
    * collect_set)) with the order pinned lexicographic. */
  private def aggColumn(q: Query)(a: Agg): Column = {
    val nums = numericVars(q)
    def arg(v: String): Column =
      if (nums.contains(v)) col(v).cast("int") else col(v)
    (a.fun match {
      case "COUNT" =>
        if (a.distinct) countDistinct(col(a.arg.get))
        else a.arg.fold(count(lit(1)))(v => count(col(v)))
      case "SUM" => sum(arg(a.arg.get))
      // AVG in EXACT arithmetic — the BM25 scaled-rational
      // discipline: ×1000 then integer floor-div by the non-null
      // count, always a BIGINT (never a float, so results are
      // deterministic and oracle-hashable). The ×1000 scale is part
      // of the engine's declared semantics (milli-units).
      case "AVG" =>
        val v = a.arg.get
        val c = if (nums.contains(v)) s"CAST(`$v` AS INT)" else s"`$v`"
        expr(s"CAST((sum($c) * 1000) div count($c) AS BIGINT)")
      case "MIN" => min(arg(a.arg.get))
      case "MAX" => max(arg(a.arg.get))
      // SAMPLE is implementation-defined (SPARQL 1.1 §18.5.1.7 —
      // "an arbitrary value from the multiset"); this engine pins it
      // to MIN so results are deterministic and oracle-replayable,
      // a conforming choice
      case "SAMPLE" => min(arg(a.arg.get))
      case "GROUP_CONCAT" =>
        array_join(sort_array(collect_set(col(a.arg.get))), a.sep)
    }).as(a.as)
  }

  private def predFilter(pat: Pattern): Column =
    if (pat.negated) !col("predicate").isin(pat.preds: _*)
    else if (pat.preds.size == 1) col("predicate") === pat.preds.head
    else col("predicate").isin(pat.preds: _*)

  /** §18.2.2.5 MIXED negated property set `!(p…|^q…)` — the spec's
    * own translation splits it into `!(p…) | !(^q…)`: the forward
    * NPS scan UNIONed with the endpoint-swapped NPS scan of the
    * inverse half, both predicate-pruned at the source. Plain
    * `union` (not distinct): path alternation has multiset
    * semantics — a pair connected both ways yields two solutions.
    * The swapped half re-orients the triple columns so the generic
    * pattern machinery (constant filters, var binding, graph
    * scoping) applies unchanged; a subject has no lang/datatype, so
    * the swapped object metadata is null with the subject's kind. */
  private def mixedNegScan(t: DataFrame, pat: Pattern): DataFrame = {
    val fwd = t.filter(!col("predicate").isin(pat.preds: _*))
    val subjKind =
      if (t.columns.contains("subject_kind")) col("subject_kind")
      else lit("iri")
    val swapped: Map[String, Column] = Map(
      "subject" -> col("obj_value"),
      "subject_kind" -> col("obj_kind"),
      "obj_value" -> col("subject"),
      "obj_kind" -> subjKind,
      "obj_lang" -> lit(null).cast("string"),
      "obj_datatype" -> lit(null).cast("string"))
    val inv = t.filter(!col("predicate").isin(pat.negInvPreds: _*))
      .select(t.columns.map(c =>
        swapped.getOrElse(c, col(c)).as(c)).toSeq: _*)
    fwd.select(t.columns.map(col).toSeq: _*).union(inv)
  }

  /** The one-exchange star pivot — [[RdfQueries.bgpStarOf]]'s shape
    * generalized: constant-object patterns become 0/1 match flags,
    * variable-object patterns conditional `min` bindings; required
    * patterns contribute a filter (flag = 1 / binding not null),
    * optional ones don't. */
  private def pivot(t0: DataFrame, q: Query, g: Group,
      subjVar: String): DataFrame = {
    // §13.2 explicit dataset: the star shape carries no GRAPH
    // blocks (starShaped requires it), so the whole pivot scan is
    // default-graph scoped
    val t =
      if (!q.datasetExplicit) t0
      else if (q.from.isEmpty) t0.filter(lit(false))
      else t0.filter(col("graph").isin(q.from: _*))
    val nums = numericVars(q)
    val filtered = filteredVars(q)
    val langs = langReqs(g)
    val kinds = kindReqs(g)
    val p = col("predicate")
    val allPats = g.required ++ g.optionals.flatten
    val requiredSet = g.required.toSet

    def objExpr(v: String): Column =
      if (nums.contains(v)) col("obj_value").cast("int") else col("obj_value")

    var flagIdx = -1
    // one (aggregate, optional required-condition) per pattern, in
    // pattern order — the same ordering the hand-built forms use
    val aggConds: Seq[(Column, Option[Column])] = allPats.map { pat =>
      pat.o match {
        case V(n) =>
          // LANGMATCHES / term-kind tests narrow which triples can
          // BIND the var, so they join the conditional aggregate's
          // match condition
          val matchCond = (Seq(p === pat.preds.head) ++
            langs.get(n).map(langCol) ++
            kinds.getOrElse(n, Nil).map(kindCol)).reduce(_ && _)
          val agg = min(when(matchCond, objExpr(n))).as(n)
          val c = if (requiredSet.contains(pat) && !filtered.contains(n))
            Some(col(n).isNotNull) else None
          (agg, c)
        case o =>
          val ov = o match { case I(x) => x; case L(x) => x; case _ => "" }
          flagIdx += 1
          val name = s"_m$flagIdx"
          val agg = max(when(p === pat.preds.head &&
              col("obj_value") === ov, 1)
            .otherwise(0)).as(name)
          val c = if (requiredSet.contains(pat)) Some(col(name) === 1)
            else None
          (agg, c)
      }
    }
    val aggs = aggConds.map(_._1)
    // A FILTER on the subject variable runs before the rename below,
    // where the grouping column is still named `subject`.
    val conds: Seq[Column] = aggConds.flatMap(_._2) ++
      g.filters.filterNot(c => c.isInstanceOf[LangCond] ||
        c.isInstanceOf[KindCond]).map(c => condColR(c,
        n => if (n == subjVar) col("subject") else col(n)))

    t.groupBy(col("subject"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(conds.reduce(_ && _))
      .withColumn(subjVar, col("subject"))
      .drop("subject")
  }

  /** A membership pattern: its ONLY variable is the subject
    * (constant predicate + object, no closure), so over a SET triple
    * store it binds each subject at most once — a semi-join, not a
    * join. */
  private def isMembership(p: Pattern): Boolean =
    !p.closed && p.preds.size == 1 && !p.negated && p.graphCtx.isEmpty &&
      (p.s match { case V(_) => true; case _ => false }) &&
      (p.o match { case V(_) => false; case _ => true })

  /** Serialize a SERVICE block back to the query text sent to the
    * endpoint — `SELECT *` over the plain triple patterns (the
    * subset the parser admitted into the clause). When `bound` is
    * given (bound-join pushdown, the §13 federation optimization),
    * the local frame's shared-variable bindings lead the body as a
    * VALUES block, so the endpoint returns only joinable rows
    * instead of its full pattern extension. */
  private[rdf] def serviceQueryText(ps: Seq[Pattern],
      bound: Option[(Seq[String], Seq[Seq[String]])] = None,
      filters: Seq[FilterExpr] = Nil): String = {
    def termStr(x: Term): String = x match {
      case V(n) => s"?$n"
      case I(iri) => s"<$iri>"
      case L(v) => "\"" +
        v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    val body = ps.map(p =>
      s"${termStr(p.s)} <${p.preds.head}> ${termStr(p.o)} .")
      .mkString(" ")
    val values = bound.map { case (vars, rows) =>
      val hdr = vars.map("?" + _).mkString("(", " ", ")")
      val rs = rows.map(_.map(lexicalTerm).mkString("(", " ", ")"))
        .mkString(" ")
      s"VALUES $hdr { $rs } "
    }.getOrElse("")
    val fs = filters.map(f => s" FILTER(${filterText(f)})")
      .mkString
    s"SELECT * WHERE { $values$body$fs }"
  }

  private def quoteLit(s: String): String = "\"" +
    s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Serialize one in-SERVICE FILTER condition back to SPARQL text
    * for the remote query — the inverse of the parser over the
    * supported (non-binding-site) condition forms. */
  private[rdf] def filterText(f: FilterExpr): String = f match {
    case Cond(v, op, Left(n)) => s"?$v $op $n"
    case Cond(v, op, Right(s)) => s"?$v $op ${quoteLit(s)}"
    case TextCond(v, "regex", p) => s"REGEX(?$v, ${quoteLit(p)})"
    case TextCond(v, "strstarts", s) => s"STRSTARTS(?$v, ${quoteLit(s)})"
    case TextCond(v, "strends", s) => s"STRENDS(?$v, ${quoteLit(s)})"
    case TextCond(v, _, s) => s"CONTAINS(?$v, ${quoteLit(s)})"
    case BoundCond(v, positive) =>
      if (positive) s"BOUND(?$v)" else s"!BOUND(?$v)"
    case InCond(v, vals, positive) =>
      s"?$v ${if (positive) "IN" else "NOT IN"} " +
        vals.map(quoteLit).mkString("(", ", ", ")")
    case VarCond(a, op, b) => s"?$a $op ?$b"
    case OrCond(alts) => alts.map(filterText).mkString(" || ")
    case _ => throw new IllegalStateException(
      "binding-site conditions are rejected at parse inside SERVICE")
  }

  /** Re-serialize one LEXICAL solution value as a SPARQL term for a
    * pushed VALUES row. The engine's solution columns are lexical
    * (the documented SERVICE delta — term kinds are not carried
    * through joins), so the kind is re-derived the only way a
    * lexical form allows: a value shaped like an absolute IRI
    * (scheme prefix, no whitespace/quotes/angle chars) serializes
    * as `<iri>`, everything else as a quoted literal. */
  private[rdf] def iriShaped(v: String): Boolean =
    v != null &&
      v.matches("[A-Za-z][A-Za-z0-9+.-]*:[^\\s\"<>{}|\\\\^`]*")

  private[rdf] def lexicalTerm(v: String): String =
    if (iriShaped(v)) s"<$v>"
    else "\"" + String.valueOf(v)
      .replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Bound-join binding budget: the maximum number of distinct
    * local binding rows serialized into ONE pushed VALUES block.
    * Between `budget` and `budget × maxChunks` bindings the clause
    * CHUNKS — one remote request per budget-sized block, results
    * unioned (exact: chunks are disjoint on the bound vars, so no
    * solution appears twice). Past the chunk cap it falls back to
    * the unpushed `SELECT *` + local join; the driver collect is
    * always `limit(cap + 1)` of a narrow distinct projection,
    * bounded regardless of corpus size. 0 disables pushdown. */
  val serviceBindingBudgetConf = "spark.graft.service.bindingBudget"
  val serviceBindingBudgetDefault = 64
  /** Max VALUES chunks per clause before the unpushed fallback. */
  val serviceMaxChunksConf = "spark.graft.service.maxChunks"
  val serviceMaxChunksDefault = 8

  /** Evaluate one SERVICE clause through the client: the remote
    * rows become an inline frame over the block's variables
    * (missing bindings null). None = the unit solution (a SILENT
    * failure); a non-SILENT failure errors loudly with the
    * endpoint named. */
  private def serviceFrame(t: DataFrame, sc: ServiceClause,
      svc: ServiceClient,
      bound: Option[(Seq[String], Seq[Seq[String]])] = None)
      : Option[DataFrame] = {
    val vars = sc.patterns.flatMap(varsOf).distinct
    svc.fetch(sc.endpoint,
        serviceQueryText(sc.patterns, bound, sc.filters)) match {
      case None if sc.silent => None
      case None => throw new IllegalArgumentException(
        s"SPARQL: SERVICE <${sc.endpoint}> failed (add SILENT to " +
          "degrade a failing endpoint to the unit solution)")
      case Some(rows) =>
        val sp = t.sparkSession
        val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
          org.apache.spark.sql.types.StructField(v,
            org.apache.spark.sql.types.StringType)))
        val data = rows.map(m => org.apache.spark.sql.Row(
          vars.map(v => m.getOrElse(v, null)): _*))
        import scala.jdk.CollectionConverters._
        // re-apply the block's FILTERs locally: idempotent on a
        // conformant endpoint's rows, corrective on one that
        // ignored the pushed text — the result never depends on
        // remote conformance
        Some(sc.filters.foldLeft(
          sp.createDataFrame(data.asJava, schema))(
          (df, c) => df.filter(condColR(c, col))))
    }
  }

  /** The general BGP evaluation — one filtered scan per pattern,
    * equi-joined on shared variables (cartesian if none — the SPARQL
    * product semantics), OPTIONAL groups as left joins. Exact
    * multiset semantics (no functional-property assumption); at
    * scale each join shuffles on its variable, which is the
    * unavoidable cost of a non-star BGP over a triple store.
    * Membership patterns ([[isMembership]]) whose variable another
    * required pattern binds compile to broadcast `left_semi` joins
    * against the distinct matching-subject set — dimension-scale by
    * the same selectivity argument every hand-built form makes
    * (constant predicate + object bounds the set by the type/flag
    * assertion count, not the corpus). Closure patterns (`p+`) read
    * the pair closure of the IRI-object edge scan of their predicate
    * set, seeded from every edge source (both endpoints are
    * variables by grammar restriction): a stored artifact when the
    * [[ClosureProvider]] serves it, else [[RdfOps.reachablePlusPairs]]
    * live. */
  private def joinsGroup(t: DataFrame, q: Query, g: Group,
      metaVars: Set[String] = Set.empty,
      closureOf: ClosureProvider = NoClosure,
      svc: ServiceClient = HttpServiceClient): DataFrame = {
    val nums = numericVars(q)
    val langs = langReqs(g)
    val kinds = kindReqs(g)
    // LANG/DATATYPE binds read the binding triple's metadata — their
    // argument vars join the threaded-metadata set (the CONSTRUCT
    // template mechanism, reused)
    val meta = metaVars ++ g.binds.map(_.expr)
      .collect { case BTermFn(f, v) if f != "STR" => v }

    def scan(pat: Pattern): DataFrame = {
      // a LANGMATCHES or term-kind test on the object var is a
      // property of the BINDING triple — pushed into this scan, it
      // reaches the parquet reader
      val langFilter: Option[Column] = (pat.o match {
        case V(n) => langs.get(n).map(langCol).toSeq ++
          kinds.getOrElse(n, Nil).map(kindCol)
        case _ => Nil
      }).reduceOption(_ && _)
      // a variable predicate binds the predicate column instead of
      // filtering on it — the `?s ?p ?o` full scan. A mixed negated
      // set pre-orients its two-scan union; its predicate pruning is
      // inside [[mixedNegScan]].
      val base =
        if (pat.negated && pat.negInvPreds.nonEmpty) mixedNegScan(t, pat)
        else t
      val mixed = pat.negated && pat.negInvPreds.nonEmpty
      var df = (pat.predVar, langFilter) match {
        case (Some(_), Some(lf)) => base.filter(lf)
        case (Some(_), None) => base
        case (None, Some(lf)) =>
          if (mixed) base.filter(lf)
          else base.filter(predFilter(pat) && lf)
        case (None, None) =>
          if (mixed) base else base.filter(predFilter(pat))
      }
      pat.s match {
        case I(iri) => df = df.filter(col("subject") === iri)
        case L(v) => df = df.filter(col("subject") === v)
        case V(_) =>
      }
      pat.o match {
        case I(iri) => df = df.filter(col("obj_value") === iri)
        case L(v) => df = df.filter(col("obj_value") === v)
        case V(_) =>
      }
      // GRAPH scope: a constant graph filters (pushes into the scan,
      // partition-prunes a graph-partitioned store); a graph var
      // binds the column (shared ?g joins patterns across graphs).
      // Unscoped patterns match the UNION graph (the engine's
      // documented default — SPARQL's default-graph-only rule is a
      // store-layout policy, not enforced here) UNLESS a §13.2
      // dataset clause makes the dataset explicit: then unscoped
      // patterns match only the FROM merge, GRAPH blocks range only
      // over FROM NAMED, and a constant GRAPH outside FROM NAMED
      // matches nothing.
      pat.graphCtx match {
        case Some(I(iri)) =>
          df =
            if (q.datasetExplicit && !q.fromNamed.contains(iri))
              df.filter(lit(false))
            else df.filter(col("graph") === iri)
        case Some(V(_)) if q.datasetExplicit =>
          df =
            if (q.fromNamed.isEmpty) df.filter(lit(false))
            else df.filter(col("graph").isin(q.fromNamed: _*))
        case None if q.datasetExplicit =>
          df =
            if (q.from.isEmpty) df.filter(lit(false))
            else df.filter(col("graph").isin(q.from: _*))
        case _ =>
      }
      val cols = (pat.s match {
        case V(n) => Seq(col("subject").as(n))
        case _ => Nil
      }) ++ (pat.graphCtx match {
        case Some(V(n)) => Seq(col("graph").as(n))
        case _ => Nil
      }) ++ pat.predVar.map(pv => col("predicate").as(pv)) ++
        (pat.o match {
        case V(n) => Seq(
          (if (nums.contains(n)) col("obj_value").cast("int")
           else col("obj_value")).as(n)) ++
          // CONSTRUCT templates / LANG-DATATYPE binds need the
          // binding triple's term metadata — threaded as hidden
          // columns next to the value
          (if (meta.contains(n))
            Seq(col("obj_kind").as(s"_k_$n"),
              col("obj_lang").as(s"_l_$n"),
              col("obj_datatype").as(s"_d_$n"))
          else Nil)
        case _ => Nil
      })
      require(cols.nonEmpty,
        "SPARQL: fully-constant pattern not supported")
      df.select(cols: _*)
    }

    def closureEdges(pat: Pattern): DataFrame = {
      pat.graphCtx match {
        case Some(V(_)) => throw new IllegalArgumentException(
          "SPARQL: a graph VARIABLE over a closure path is not " +
            "supported (a closure crosses graphs)")
        case _ =>
      }
      def scanOf(filter: Column): DataFrame = {
        var e = t.filter(filter && col("obj_kind") === "iri")
        pat.graphCtx match {
          case Some(I(iri)) =>
            e =
              if (q.datasetExplicit && !q.fromNamed.contains(iri))
                e.filter(lit(false))
              else e.filter(col("graph") === iri)
          case None if q.datasetExplicit =>
            e =
              if (q.from.isEmpty) e.filter(lit(false))
              else e.filter(col("graph").isin(q.from: _*))
          case _ =>
        }
        e.select(col("subject").as("src"), col("obj_value").as("dst"))
      }
      if (pat.seqPath.isEmpty) scanOf(predFilter(pat))
      else
        // `(p1/p2/...)` under a quantifier: the composed relation —
        // per-predicate IRI-object scans folded by equi-joins on the
        // intermediate node, yielding the (src, dst) edge set the
        // fixpoint walks. The IRI-object restriction applies at
        // EVERY hop (a closure walks the IRI graph; a literal can't
        // be a join point anyway).
        pat.seqPath
          .map(p => scanOf(col("predicate") === p))
          .reduce((a, b) => a.join(
              b.select(col("src").as("_mid"), col("dst").as("_nxt")),
              col("dst") === col("_mid"))
            .select(col("src"), col("_nxt").as("dst")))
    }

    def closure(pat: Pattern): DataFrame = {
      val (sv, ov) = (pat.s, pat.o) match {
        case (V(a), V(b)) => (a, b)
        case _ => throw new IllegalArgumentException(
          "SPARQL: `p+` requires variables at both ends")
      }
      val edges = closureEdges(pat)
      closurePairs(pat, edges)
        .select(col("src").as(sv), col("dst").as(ov))
    }

    /** The pair closure of a closure step: the STORED artifact when
      * the provider serves this predicate set (graph-unscoped steps
      * only — the production path for hot predicates), else a live
      * [[RdfOps.reachablePlusPairs]] seeded from every edge source —
      * the same operator the stored artifacts are built with, so
      * stored and live answers agree by construction. */
    def closurePairs(pat: Pattern, edges: DataFrame): DataFrame =
      // flat-set and composed-sequence closures are DIFFERENT
      // relations — the provider keying carries the distinction
      (if (pat.graphCtx.isEmpty)
        (if (pat.seqPath.isEmpty) closureOf(pat.preds, false)
         else closureOf(pat.seqPath, true))
      else None)
        .map(_.select(col("src"), col("dst")))
        .getOrElse(RdfOps.reachablePlusPairs(edges,
          edges.select(col("src")).distinct()))

    /** `p*` — the closure PLUS the zero-length paths. Engine-
      * documented narrowing of SPARQL's zero-length rule: self rows
      * are emitted for every node INCIDENT to a p-edge (src ∪ dst),
      * not for every term in the graph — the graph-scoped rule
      * would bind (x, x) for every literal and IRI in the store,
      * which no consumer of a typed path wants and which explodes
      * the binding set corpus-scale. */
    def closureStar(pat: Pattern): DataFrame = {
      val (sv, ov) = (pat.s, pat.o) match {
        case (V(a), V(b)) => (a, b)
        case _ => throw new IllegalArgumentException(
          "SPARQL: `p*` requires variables at both ends")
      }
      val edges = closureEdges(pat)
      val nodes = edges.select(col("src"))
        .union(edges.select(col("dst").as("src"))).distinct()
      nodes.select(col("src"), col("src").as("dst"))
        .union(closurePairs(pat, edges)).distinct()
        .select(col("src").as(sv), col("dst").as(ov))
    }

    /** `p{lo,hi}` — bounded repetition: exists-a-path-of-each-
      * length via [[RdfOps.pathBounded]]'s composition ladder (the
      * SAME builder the hand-built `rdf_path_bounded` query uses, so
      * plan identity holds); min-hop reach cannot answer lo > 1 on
      * diamonds. */
    def boundedOf(pat: Pattern): DataFrame = {
      val (sv, ov) = (pat.s, pat.o) match {
        case (V(a), V(b)) => (a, b)
        case _ => throw new IllegalArgumentException(
          "SPARQL: `p{lo,hi}` requires variables at both ends")
      }
      val (lo, hi) = pat.rep.get
      RdfOps.pathBounded(closureEdges(pat), lo, hi)
        .select(col("src").as(sv), col("dst").as(ov))
    }

    /** `p?` — zero-or-one: the edges themselves plus the zero-length
      * self rows (same incident-node narrowing as `p*`); no
      * iteration at all — one scan and a constant projection, the
      * bounded sibling of the closures. */
    def zeroOneOf(pat: Pattern): DataFrame = {
      val (sv, ov) = (pat.s, pat.o) match {
        case (V(a), V(b)) => (a, b)
        case _ => throw new IllegalArgumentException(
          "SPARQL: `p?` requires variables at both ends")
      }
      val edges = closureEdges(pat)
      val nodes = edges.select(col("src"))
        .union(edges.select(col("dst").as("src"))).distinct()
      nodes.select(col("src"), col("src").as("dst"))
        .union(edges).distinct()
        .select(col("src").as(sv), col("dst").as(ov))
    }

    def joinInto(acc: DataFrame, nxt: DataFrame, joinType: String): DataFrame = {
      val common = acc.columns.intersect(nxt.columns).toSeq
      if (common.isEmpty) acc.crossJoin(nxt)
      else acc.join(nxt, common, joinType)
    }

    // membership patterns whose var another required pattern binds
    // become semi-joins AFTER the binding fold; if nothing else binds
    // the var, the pattern stays a scan (it is the binding source)
    val (semis, mains) = g.required.partition { p =>
      isMembership(p) && {
        val v = p.s.asInstanceOf[V].name
        g.required.exists(o => (o ne p) && varsOf(o).contains(v)) ||
          g.subs.exists(sq => projectedVars(sq).contains(v))
      }
    }
    // Subqueries compile independently (their own aggregates and
    // solution modifiers) and lead the join fold — in the canonical
    // top-N shape the subquery is the few-row driving table, so the
    // joins that follow attach to it (AQE broadcasts the small side).
    // VALUES splices in immediately after the pattern that binds its
    // variable — the hand-built valuesJoin order (inline data is
    // driver-small, so the broadcast join prunes the scan BEFORE the
    // big pattern joins, never after)
    // SERVICE frames evaluate at compile time through the client
    // seam. A clause sharing variables with the already-folded
    // local frame is a BOUND JOIN (§13 federation's optimization):
    // the local frame's distinct shared-var bindings — capped at
    // the documented budget, collected as a bounded narrow
    // projection — are serialized into the remote query as a
    // VALUES block, so the endpoint returns only joinable rows.
    // Past the budget — or with no shared vars, no local frame
    // yet, or any literal-shaped binding (lexical columns can't
    // reproduce a typed literal's serialization, so pushing one
    // could drop rows) — the clause falls back to the unpushed
    // `SELECT *`.
    // Either way the remote frame is delta-sized and AQE
    // broadcasts it into the fold; a SILENT failure degrades to
    // the unit solution (the clause contributes nothing).
    val localDfs = g.subs.map(sq => compile(t, sq)) ++
      mains.map(p => if (p.plus) closure(p)
        else if (p.star) closureStar(p)
        else if (p.rep.isDefined) boundedOf(p)
        else if (p.zeroOne) zeroOneOf(p)
        else scan(p))
    val budget = t.sparkSession.conf
      .getOption(serviceBindingBudgetConf).map(_.toInt)
      .getOrElse(serviceBindingBudgetDefault)
    val maxChunks = t.sparkSession.conf
      .getOption(serviceMaxChunksConf).map(_.toInt)
      .getOrElse(serviceMaxChunksDefault)
    def fetchService(sc: ServiceClause,
        acc: Option[DataFrame]): Option[DataFrame] = {
      val shared = acc.map(a =>
        sc.patterns.flatMap(varsOf).distinct
          .filter(a.columns.contains)).getOrElse(Nil)
      if (shared.isEmpty || budget <= 0)
        serviceFrame(t, sc, svc, None)
      else {
        val cap = budget * math.max(1, maxChunks)
        val rows = acc.get
          .select(shared.map(col): _*).na.drop().distinct()
          .limit(cap + 1).collect()
        val binds = rows.toSeq.map(r =>
          shared.indices.map(i => r.get(i).toString))
        // Only IRI-shaped bindings push: the engine's solution
        // columns are LEXICAL, so a plain-string serialization of a
        // typed literal ("42" vs "42"^^xsd:integer) would never
        // match at the endpoint — the pushed plan would return
        // FEWER rows than the unpushed SELECT* + local lexical
        // join. Any literal-shaped binding ⇒ unpushed fallback
        // (correctness beats the optimization).
        if (rows.length > cap || binds.exists(_.exists(!iriShaped(_))))
          serviceFrame(t, sc, svc, None)
        else {
          val chunks =
            if (binds.isEmpty) Seq(Seq.empty) // empty VALUES: legal,
            else binds.grouped(budget).toSeq //  still surfaces errors
          val frames = chunks.map(ch =>
            serviceFrame(t, sc, svc, Some((shared, ch))))
          // one SILENT-failed chunk degrades the WHOLE clause to the
          // unit solution — partial chunk unions would be wrong
          if (frames.exists(_.isEmpty)) None
          else Some(frames.flatten.reduce(_ union _))
        }
      }
    }
    // no local frame: the first service that yields a frame leads
    // the fold (unpushed — nothing to bind against yet); SILENT
    // failures skip to the next clause, and the remaining clauses
    // bound-join against the leader
    val (mainDfs, lateSvcs) =
      if (localDfs.nonEmpty) (localDfs, g.services)
      else {
        var rest = g.services
        var first: Option[DataFrame] = None
        while (first.isEmpty && rest.nonEmpty) {
          first = fetchService(rest.head, None)
          rest = rest.tail
        }
        (first.toSeq, rest)
      }
    var accDf = mainDfs.head
    var pendingVals = g.values
    def attachValues(): Unit = {
      val (now, later) = pendingVals.partition(vc =>
        accDf.columns.contains(vc.v))
      now.foreach { vc =>
        val sp = t.sparkSession
        import sp.implicits._
        accDf = accDf.join(broadcast(vc.vals.toDF(vc.v)), Seq(vc.v))
      }
      pendingVals = later
    }
    attachValues()
    mainDfs.tail.foreach { d =>
      accDf = joinInto(accDf, d, "inner")
      attachValues()
    }
    lateSvcs.foreach { sc =>
      fetchService(sc, Some(accDf)).foreach { d =>
        accDf = joinInto(accDf, d, "inner")
        attachValues()
      }
    }
    val required = accDf
    val withSemis = semis.foldLeft(required) { (acc, p) =>
      val v = p.s.asInstanceOf[V].name
      val ov = p.o match { case I(x) => x; case L(x) => x; case _ => "" }
      val dim = t.filter(col("predicate") === p.preds.head &&
          col("obj_value") === ov)
        .select(col("subject").as(v)).distinct()
      acc.join(broadcast(dim), Seq(v), "left_semi")
    }
    val withOpts = g.optionals.zip(g.optFiltersPadded)
      .foldLeft(withSemis) { case (acc, (grp, fs)) =>
        // an OPTIONAL block's own FILTERs constrain the optional
        // side BEFORE the left join (SPARQL's inner-scope rule: a
        // failing filter unbinds the optional, it doesn't drop the
        // outer row)
        val side = grp.map(scan).reduceLeft(joinInto(_, _, "inner"))
        val filtered = fs.foldLeft(side)((df, c) =>
          df.filter(condColR(c, col)))
        joinInto(acc, filtered, "left")
      }
    // MINUS removes solutions compatible with a minus-group solution
    // on the SHARED variables — a left-anti join on the common
    // columns; with no shared variables SPARQL's MINUS removes
    // nothing (the spec's disjoint-domain rule), so it's a no-op
    val withMinus = g.minuses.foldLeft(withOpts) { (acc, grp) =>
      val m = grp.map(scan).reduceLeft(joinInto(_, _, "inner"))
      val common = acc.columns.intersect(m.columns).toSeq
      if (common.isEmpty) acc
      else acc.join(m.select(common.map(col): _*), common, "left_anti")
    }
    // FILTER EXISTS = a semi-join on the shared variables, FILTER
    // NOT EXISTS = the anti-join; with NO shared variables the
    // correlation is global — the block's (non-)emptiness gates
    // every row via a broadcast 1-row flag (contrast MINUS, whose
    // disjoint-domain rule makes the same case a no-op)
    val withExists = g.exists.foldLeft(withMinus) {
      case (acc, (positive, grp)) =>
        val e = grp.map(scan).reduceLeft(joinInto(_, _, "inner"))
        val common = acc.columns.intersect(e.columns).toSeq
        if (common.isEmpty) {
          val flag = e.limit(1).agg((count(lit(1)) > 0).as("_any"))
          acc.crossJoin(broadcast(flag))
            .filter(if (positive) col("_any") else !col("_any"))
            .drop("_any")
        } else acc.join(e.select(common.map(col): _*), common,
          if (positive) "left_semi" else "left_anti")
    }
    // BINDs are pure scalar projections (zero exchanges added);
    // filters run after them so a FILTER may reference a BIND target —
    // the optimizer substitutes the defining expression and pushes the
    // predicate into the scan (the bindStrFuns discipline)
    val withBinds = g.binds.foldLeft(withExists)((df, b) =>
      df.withColumn(b.as, bindCol(b.expr)))
    g.filters.filterNot(c => c.isInstanceOf[LangCond] ||
        c.isInstanceOf[KindCond])
      .foldLeft(withBinds)((df, c) => df.filter(condColR(c, col)))
  }

  /** A BIND expression as a codegen'd scalar column — the hand-built
    * bindStrFuns spellings (STRLEN is bigint like the hand-built
    * `title_len`; REPLACE is regexp_replace — SPARQL's REPLACE is
    * regex-based, like Spark's). */
  private def bindCol(e: BindExpr): Column = e match {
    case BFun1("UCASE", v) => upper(col(v))
    case BFun1("LCASE", v) => lower(col(v))
    case BFun1("STRLEN", v) => length(col(v)).cast("bigint")
    case BFun1(f, _) => throw new IllegalArgumentException(
      s"SPARQL: unsupported BIND function '$f'")
    case BReplace(v, p, r) => regexp_replace(col(v), p, r)
    case BConcat(parts) => concat(parts.map {
      case Left(v) => col(v)
      case Right(s) => lit(s)
    }: _*)
    case BSubstr(v, start, len) => len match {
      case Some(l) => col(v).substr(lit(start), lit(l))
      case None => col(v).substr(lit(start), length(col(v)))
    }
    // first-occurrence prefix/suffix, "" when the separator is
    // absent — instr is 1-based and 0 on no-match in both engines
    case BStrBA(v, sep, before) =>
      val pos = instr(col(v), sep)
      if (before) when(pos > 0, col(v).substr(lit(1), pos - 1))
        .otherwise(lit(""))
      else when(pos > 0,
          col(v).substr(pos + lit(sep.length), length(col(v))))
        .otherwise(lit(""))
    case BCoalesce(parts) => coalesce(parts.map {
      case Left(v) => col(v)
      case Right(s) => lit(s)
    }: _*)
    // integer arithmetic in BIGINT (SPARQL integer ops don't
    // overflow into decimals; the source binding may have been
    // scanned as int by the numeric-filter rule — widened here)
    case BArith(e) =>
      def go(a: ArithE): Column = a match {
        case ANum(n) => lit(n)
        case AVar(v) => col(v).cast("bigint")
        case ABin("+", l, r) => go(l) + go(r)
        case ABin("-", l, r) => go(l) - go(r)
        case ABin(_, l, r) => go(l) * go(r)
      }
      go(e)
    case BIf(c, thenP, elseP) =>
      def part(p: Either[String, String]): Column =
        p.fold(col, lit)
      when(condColR(c, col), part(thenP)).otherwise(part(elseP))
    // term accessors (SPARQL 1.1 §17.4.2): STR is the lexical form;
    // LANG/DATATYPE read the threaded `_k_/_l_/_d_` metadata and are
    // NULL (unbound) on non-literals — `when` without `otherwise`
    case BTermFn("STR", v) => col(v)
    case BTermFn("LANG", v) =>
      when(col(s"_k_$v") === "literal",
        coalesce(col(s"_l_$v"), lit("")))
    case BTermFn("DATATYPE", v) =>
      when(col(s"_k_$v") === "literal",
        coalesce(col(s"_d_$v"),
          when(col(s"_l_$v").isNotNull, lit(Vocab.RdfLangString))
            .otherwise(lit(Vocab.XsdString))))
    case BTermFn(f, _) => throw new IllegalArgumentException(
      s"SPARQL: unsupported term accessor '$f'")
  }

  /** UNION evaluation. Branches that differ ONLY in their predicate
    * constant (same subject/object terms, disjoint predicate sets,
    * no branch filters) merge into ONE `isin` scan — bag-equal to
    * the union because a triple matches exactly one branch. Anything
    * else compiles per-branch and unions with typed null padding for
    * the variables a branch leaves unbound. */
  private def compileUnion(t: DataFrame, q: Query,
      closureOf: ClosureProvider,
      svc: ServiceClient = HttpServiceClient): DataFrame = {
    val gs = q.groups
    val nums = numericVars(q)
    val mergeable =
      gs.forall(g => g.required.size == 1 && g.filters.isEmpty &&
        g.optionals.isEmpty && g.values.isEmpty && g.binds.isEmpty &&
        g.subs.isEmpty && g.minuses.isEmpty && g.exists.isEmpty &&
        g.services.isEmpty &&
        !g.required.head.closed && !g.required.head.negated &&
        g.required.head.predVar.isEmpty &&
        g.required.head.graphCtx.isEmpty) && {
        val ps = gs.map(_.required.head)
        ps.map(_.s).distinct.size == 1 && ps.map(_.o).distinct.size == 1 &&
          ps.flatMap(_.preds).distinct.size == ps.map(_.preds.size).sum
      }
    if (mergeable) {
      val ps = gs.map(_.required.head)
      joinsGroup(t, q,
        Group(Seq(Pattern(ps.head.s, ps.flatMap(_.preds), ps.head.o)),
          Nil, Nil), closureOf = closureOf)
    } else {
      val branchVars = gs.map(g =>
        ((g.required ++ g.optionals.flatten).flatMap(varsOf) ++
          g.binds.map(_.as) ++ g.subs.flatMap(projectedVars) ++
          g.services.flatMap(_.patterns.flatMap(varsOf)))
          .distinct.filterNot(isHidden))
      val allVars = branchVars.flatten.distinct
      val dfs = gs.zip(branchVars).map { case (g, bv) =>
        val b = joinsGroup(t, q, g, closureOf = closureOf, svc = svc)
        b.select(allVars.map { v =>
          if (bv.contains(v)) col(v)
          else lit(null).cast(if (nums.contains(v)) "int" else "string").as(v)
        }: _*)
      }
      dfs.reduce(_.union(_))
    }
  }
}
