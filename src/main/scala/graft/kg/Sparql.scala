package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A SPARQL-subset compiler: parse the query text a reference user
  * already has in `.rq` files and compile it to the same DataFrame
  * plans the hand-built queries use — the "run your existing queries"
  * surface. Covers the constructs the reference's query files
  * actually exercise (the .rq files under data-publishing/factgrid/
  * queries — lokale-from-factgrid.rq is the shape target): basic
  * graph patterns with `;` subject continuation, literal / numeric /
  * prefixed-name objects, sequence property paths with closure
  * (`fgt:P2/fgt:P3*`, companions_and_relations.rq:59), multi-pattern
  * OPTIONAL groups (all-or-nothing, compiled as ONE left join of the
  * inner-joined group), `{…} UNION {…}` chains,
  * `SERVICE wikibase:label` with the `[AUTO_LANGUAGE]` convention
  * (lokale-from-factgrid.rq:5 — present in all 22 reference files),
  * `MINUS {…}` / `FILTER NOT EXISTS {…}` exclusion groups
  * (companions_and_relations.rq:116), FILTER(REGEX(?v, "...")) incl.
  * the STR(?v) wrapper, FILTER(?v = "..."), single- and multi-var
  * VALUES blocks (network-03-federated.rq:32), SELECT DISTINCT,
  * ORDER BY, LIMIT, and `SERVICE <endpoint> {…}` federation blocks
  * compiled against a REGISTERED [[ServiceGraph]] (endpoint IRI → a
  * local statements frame with its own dialect + typing — the
  * single-engine federation model; an unregistered endpoint rejects
  * loudly, and so does a body construct outside the BGP/OPTIONAL/
  * FILTER subset). PREFIX declarations and comments are accepted
  * and ignored.
  *
  * Dialect maps: reference queries use prefixed names (`fgt:P2`,
  * `fg:Q40454`). `predAliases` maps prefixed predicates onto the
  * store's local names and `entityAliases` maps prefixed entities
  * onto statement ids — translate once per deployment, run the .rq
  * text unchanged (SparqlSpec runs lokale-from-factgrid.rq's pattern
  * structure through exactly this path). Unknown prefixed names fail
  * loudly. `autoLang` pins the label service's `[AUTO_LANGUAGE]`
  * token to a deployment language (default "de" — the store's
  * second label language).
  *
  * Typing rule — SCHEMA-driven, the `wikibase:propertyType` idea:
  * subjects always bind `s` (long); an object variable binds `o_id`
  * (long) iff its pattern's predicate is entity-valued in the store's
  * mapping dictionary ([[Triples.rules]]), else `o_val` (string).
  * Property-path objects are always entities (paths traverse entity
  * edges). A variable bound both ways across patterns — including
  * inside MINUS groups, whose shared variables become anti-join
  * keys — is a type conflict and fails loudly, as does any
  * unsupported syntax — never a silently dropped pattern.
  *
  * Compilation is PLAN-NATIVE, not interpretive: each triple pattern
  * becomes a predicate-pruned scan of the statements relation, shared
  * variables become equi-join keys (the hand-written BGP shape
  * Catalyst already optimizes), an OPTIONAL group one left outer
  * join, a UNION chain a union of its branch sub-plans joined back on
  * the shared variables, a MINUS group one left-anti join, a starred
  * path step the semi-naive closure fixpoint
  * ([[TripleStore.fixpoint]] — the kg_seq_path engine), and the label
  * service one ranked left join (the kg_label_lang window). A query
  * arriving as text therefore costs the same as one written against
  * the DSL. */
object Sparql {

  /** A pattern term, its kind decided once by [[parse]]. */
  sealed trait Term
  final case class V(name: String) extends Term
  final case class Lit(value: String) extends Term
  final case class Num(value: Long) extends Term
  /** A prefixed name (`fg:Q40454`): it MUST resolve through the
    * dialect maps at compile time. */
  final case class Prefixed(name: String) extends Term
  /** An `<IRI>`, held as its bare text: it resolves through
    * `entityAliases` (keyed by its bracketed form) in entity positions
    * and otherwise compares as a literal against that text (the
    * `schema:isPartOf <https://www.wikidata.org/>` shape). */
  final case class Iri(iri: String) extends Term
  /** A BIND constant that resolved to a PREDICATE name (the compare
    * files' `BIND(fgt:P117 as ?fg_property)` ... `?fg_item ?fg_property
    * ?fg_value`): substitutes into predicate slots as the resolved
    * local name and surfaces as that name string when projected. Made
    * by compile-time resolution, never by the parser. */
  final case class PredConst(name: String) extends Term

  /** A pattern's predicate slot, its kind decided once by [[parse]]. */
  sealed trait Pred
  /** A predicate name: local, prefixed, `<IRI>` or the `a` shorthand. */
  final case class Name(name: String) extends Pred
  /** A variable predicate `?p`. */
  final case class PVar(name: String) extends Pred
  /** A property path (`p/q*`, `(p|^q)`, `^(p/q)` — the reference's
    * `fgt:P2/fgt:P3*` shape, companions_and_relations.rq:59): the bag
    * union of its top-level arms, each a sequence of [[PathStep]]s. */
  final case class Path(arms: Seq[Seq[PathStep]]) extends Pred
  /** A negated property set `!(p|^q)`: the names excluded in the
    * forward and in the inverse direction. */
  final case class NegSet(fwd: Seq[String], inv: Seq[String]) extends Pred
  /** The `wikibase:statements` per-item statement count. */
  case object StatementCount extends Pred

  final case class Pattern(s: Term, p: Pred, o: Term)
  /** One `/`-separated step of a sequence path, as [[parse]] lowers
    * it: a set of predicate ALTERNATIVES (`p|q`, each optionally
    * INVERSE `^p` — the kg_path_alt forms), with an optional modifier
    * — `*` (zero-or-more), `+` (one-or-more), or `?` (zero-or-one).
    * `subs` carries arms that are themselves SEQUENCE PATHS (the
    * inner-nested alternation `((p/q)|r)/s`, round 11): each compiles
    * to its own (a, b) pair relation and bag-unions with the plain
    * arms' edges; a starred nested step closes over the composite
    * relation (ZeroOrMorePath over a path expression). */
  final case class PathStep(alts: Seq[(String, Boolean)], star: Boolean,
      plus: Boolean = false, opt: Boolean = false,
      subs: Seq[Seq[PathStep]] = Nil) {
    /** Every predicate name the step scans, nested sub-paths included. */
    def names: Seq[String] = alts.map(_._1) ++ subs.flatten.flatMap(_.names)
  }
  sealed trait Filt
  final case class FRegex(v: String, re: String) extends Filt
  final case class FEq(v: String, value: String) extends Filt
  /** `FILTER(LANG(?v) = "lang")` — the label-language restriction
    * (companions_and_relations.rq:76, test.rq:66). Compiled as a
    * `lang`-column predicate PUSHED INTO the statements scan that
    * binds ?v as a literal object (language is per-statement metadata,
    * gone from the bare literal — the binding site is the only place
    * the restriction can apply). `[AUTO_LANGUAGE]` resolves to the
    * deployment's autoLang like the label service. */
  final case class FLang(v: String, lang: String) extends Filt

  /** Aggregate projection: `(COUNT(DISTINCT? ?v) AS ?alias)` plus
    * MIN / MAX / SAMPLE / GROUP_CONCAT(…; separator="…"). SAMPLE is
    * DETERMINISTIC (min — the kg_sample_distinct convention) and
    * GROUP_CONCAT is the SORTED concat, so both are
    * parallelism-independent and hash-checkable. */
  final case class Agg(distinct: Boolean, v: String, alias: String,
      func: String = "count", sep: Option[String] = None)

  /** `MINUS {…}` / `FILTER NOT EXISTS {…}` group: excluded BGP plus
    * filters scoped to the group. A pattern-less group (the
    * reference's `MINUS {FILTER(REGEX(STR(?v), "…"))}` idiom,
    * companions_and_relations.rq:116) is a pure row exclusion. */
  final case class Minus(patterns: Seq[Pattern], filters: Seq[Filt])

  /** `VALUES ?v {…}` or `VALUES (?a ?b) { (… …) … }` inline data. */
  final case class ValuesBlock(vars: Seq[String], rows: Seq[Seq[Term]])

  /** A computed `BIND(expr AS ?x)` beyond the const / IRI-CONCAT / IF
    * forms (which keep their dedicated nodes): string CONCAT over
    * literal and STR(?v)/?v parts, and regex REPLACE over STR(?v) —
    * the get_gnd_from_fg_and_wd.rq / get_factgrid_ids_from_wikidata.rq
    * transforms. Both are NULL-PROPAGATING projections (unbound in →
    * unbound out, SPARQL's error-to-unbound rule; Spark's `concat` and
    * `regexp_replace` null-propagate identically). STR() of an
    * entity-typed var renders the entity ID digits — this engine's id
    * space; the reference's IRI-text round trip belongs to the dialect
    * layer (pair with an IRI-prefix CONCAT part when the IRI text is
    * wanted, as the reference files themselves do). */
  sealed trait SExpr
  final case class SLit(s: String) extends SExpr
  final case class SStr(v: String) extends SExpr
  final case class SReplace(v: String, pattern: String, replacement: String) extends SExpr
  final case class SConcat(parts: Seq[SExpr]) extends SExpr
  final case class ExprBind(alias: String, expr: SExpr)

  /** One brace level of a WHERE body — the RECURSIVE group model. A
    * UNION branch, an OPTIONAL group, and a SERVICE body are each a
    * full [[Body]], so keyword constructs nest the way the reference's
    * companions/test/time-items queries nest them (OPTIONAL and BIND
    * inside UNION branches, MINUS-filters inside SERVICE OPTIONALs,
    * per-branch source tags). `binds` at a level are SCOPED: they
    * substitute into that level's subtree and surface as constant
    * columns of that level's frame only (a per-branch
    * `BIND("factgrid" AS ?source)` tags just its branch — other
    * branches null-pad, companions_and_relations.rq:50). */
  final case class Body(
      patterns: Seq[Pattern] = Nil,
      optionals: Seq[Body] = Nil,
      unions: Seq[Seq[Body]] = Nil,
      filters: Seq[Filt] = Nil,
      minuses: Seq[Minus] = Nil,
      binds: Map[String, Term] = Map.empty,
      iriBinds: Seq[(String, String, String)] = Nil,
      exprBinds: Seq[ExprBind] = Nil,
      ifBinds: Seq[IfBind] = Nil,
      values: Seq[ValuesBlock] = Nil,
      services: Seq[ServiceBlock] = Nil,
      labelLangs: Option[Seq[String]] = None)

  /** A `SERVICE <endpoint> {…}` block — the federation surface. The
    * body is a full recursive [[Body]]; at compile time it runs
    * against the [[ServiceGraph]] registered for the endpoint IRI and
    * joins the outer pattern on the shared variables.
    *
    * Semantics note: this implements the BINDINGS-INJECTED (correlated)
    * evaluation real endpoints perform — WDQS/Blazegraph evaluate the
    * SERVICE body per outer binding, so `SERVICE { OPTIONAL {P} }`
    * behaves as a per-row left join (the "value may be absent on the
    * remote side" idiom every compare-factgrid-wikidata query relies
    * on), not the strict bottom-up Join(Ω, eval(body)) of the SPARQL
    * algebra (under which a globally non-empty OPTIONAL body would
    * drop unmatched outer rows). The reference's results depend on
    * the injected behavior; that is what we compile. */
  final case class ServiceBlock(endpoint: String, body: Body)

  /** `BIND(IF(?a = ?b, "t", "f") AS ?x)` — the comparison verdict of
    * the compare-factgrid-wikidata queries. NULL-PROPAGATING like the
    * SPARQL original: `=` on an unbound var is an error, so IF yields
    * unbound — compiled as a two-arm `when` with no otherwise (null
    * in → null out). */
  final case class IfBind(alias: String, v1: String, v2: String,
      thenV: String, elseV: String)

  /** The query form: what [[run]] makes of the WHERE solutions. */
  sealed trait Form
  /** The projected solutions. */
  case object Select extends Form
  /** Statement-shaped rows `(s, p, o_id, o_val, lang)`, one per
    * solution and template pattern, DISTINCT (a graph). */
  final case class Construct(template: Seq[Pattern]) extends Form
  /** One row `(ask, n_matches)`. */
  case object Ask extends Form
  /** Every statement whose subject or object is a solution of `v`. */
  final case class Describe(v: String) extends Form

  /** A parsed query: its form, projection head, the recursive root
    * [[Body]] and the solution modifiers. A CONSTRUCT projects its
    * template's variables, an ASK every variable its body binds, a
    * DESCRIBE its one variable. */
  final case class Query(
      select: Seq[String], aggs: Seq[Agg], distinct: Boolean,
      body: Body,
      groupBy: Seq[String],
      orderKeys: Seq[(String, Boolean)], // (var, descending)
      limit: Option[Int], offset: Option[Int] = None,
      form: Form = Select) {
    def orderBy: Seq[String] = orderKeys.map(_._1)
  }

  // ---- parser --------------------------------------------------------

  /** The WHERE group and the solution modifiers after it — the tail
    * every query form shares (9 groups: body, GROUP BY vars at 3,
    * ORDER BY keys at 5, LIMIT at 7, OFFSET at 9). */
  private val Where = """\s*\{(.*)\}\s*(GROUP\s+BY\s+((?:\?\w+\s*)+))?\s*(ORDER\s+BY\s+((?:(?:ASC|DESC)?\s*\(?\s*\?\w+\s*\)?\s*)+))?\s*(LIMIT\s+(\d+))?\s*(OFFSET\s+(\d+))?\s*"""
  private val SelectRe = ("""(?is).*?SELECT\s+(DISTINCT\s+)?(.*?)\s*WHERE""" + Where).r
  private val ConstructRe = ("""(?is)\s*CONSTRUCT\s*\{([^{}]*)\}\s*WHERE""" + Where).r
  private val AskRe = ("""(?is)\s*ASK\s*(?:WHERE)?""" + Where).r
  private val DescribeRe = ("""(?is)\s*DESCRIBE\s+\?(\w+)\s+WHERE""" + Where).r
  /** One ORDER BY key: optional ASC/DESC wrapper around a (possibly
    * parenthesized) variable — `?v`, `(?v)`, `DESC(?v)`, `ASC (?v)`. */
  private val OrderKeyRe = """(?i)(ASC|DESC)?\s*\(?\s*\?(\w+)\s*\)?""".r
  private val ProjVarRe = """\?(\w+)""".r
  private val ProjAggRe = """(?i)\(\s*COUNT\s*\(\s*(DISTINCT\s+)?\?(\w+)\s*\)\s+AS\s+\?(\w+)\s*\)""".r
  private val ProjAgg2Re = """(?i)\(\s*(SAMPLE|MIN|MAX|GROUP_CONCAT)\s*\(\s*(DISTINCT\s+)?\?(\w+)\s*(?:;\s*separator\s*=\s*"([^"]*)"\s*)?\)\s+AS\s+\?(\w+)\s*\)""".r
  private val RegexRe = """(?is)REGEX\s*\(\s*(?:STR\s*\(\s*)?\?(\w+)\s*\)?\s*,\s*"([^"]*)"\s*\)""".r
  private val EqRe = """(?is)\?(\w+)\s*=\s*"([^"]*)"""".r
  private val LangRe = """(?is)LANG\s*\(\s*\?(\w+)\s*\)\s*=\s*"([^"]*)"""".r
  private val PrefixedRe = """\w+:\w+""".r
  private val PrefixDeclRe = """(?i)\bPREFIX\s+(\w*):\s*<([^>]*)>""".r
  private val ValuesRowRe = """\(([^()]*)\)""".r
  private val LangParamRe = """(?is)wikibase:language\s+"([^"]*)"""".r
  private val TokenRe = "\"[^\"]*\"|'[^']*'|\\S+".r
  // BIND classification: `expr AS ?var`, then the expr forms
  private val BindAsRe = """(?is)^(.*?)\s+AS\s+\?(\w+)\s*$""".r
  /** `IRI(CONCAT(STR(wd:), ?qid))` — the reference's qid→IRI
    * transform (lokale-from-factgrid.rq:44, in every network/compare
    * query). */
  private val IriConcatRe = """(?is)^IRI\s*\(\s*CONCAT\s*\(\s*STR\s*\(\s*(\w+):\s*\)\s*,\s*(?:STR\s*\(\s*)?\?(\w+)\s*\)?\s*\)\s*\)$""".r
  private val IfEqRe = """(?is)^IF\s*\(\s*\?(\w+)\s*=\s*\?(\w+)\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\s*\)$""".r
  private val ReplaceRe = """(?is)^REPLACE\s*\(\s*STR\s*\(\s*\?(\w+)\s*\)\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\s*\)$""".r
  private val ConcatRe = """(?is)^CONCAT\s*\((.*)\)$""".r
  private val StrOfVarRe = """(?is)^STR\s*\(\s*\?(\w+)\s*\)$""".r

  // ---- recursive body scanner ---------------------------------------

  private def isKwBoundary(s: String, i: Int): Boolean =
    i == 0 || " \t\n\r.;{}()".indexOf(s(i - 1)) >= 0

  /** Case-insensitive keyword test at a token boundary; returns the
    * index just past the keyword, or -1. */
  private def kwAt(s: String, i: Int, kw: String): Int =
    if (i + kw.length <= s.length && isKwBoundary(s, i) &&
      s.regionMatches(true, i, kw, 0, kw.length)) i + kw.length else -1

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0; while (i < s.length && s(i).isWhitespace) i += 1; i
  }

  /** Index just past the close delimiter matching the open at `open`
    * (`s(open)` must be `oc`). Quote-aware for both quote styles. */
  private def matchDelim(s: String, open: Int, oc: Char, cc: Char): Int = {
    var d = 0; var i = open; var q = ' '
    while (i < s.length) {
      val c = s(i)
      if (q != ' ') { if (c == q) q = ' ' }
      else if (c == '"' || c == '\'') q = c
      else if (c == oc) d += 1
      else if (c == cc) { d -= 1; if (d == 0) return i + 1 }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced '$oc' in: '${s.substring(open).trim.take(60)}'")
  }

  private def indexOfUnquoted(s: String, target: Char): Int = {
    var i = 0; var q = ' '
    while (i < s.length) {
      val c = s(i)
      if (q != ' ') { if (c == q) q = ' ' }
      else if (c == '"' || c == '\'') q = c
      else if (c == target) return i
      i += 1
    }
    -1
  }

  /** Fresh-variable source for blank-node expansion (one per parse). */
  private final class Fresh { private var n = 0
    def next(): String = { n += 1; s"_b${n - 1}" } }

  /** Expand blank-node property lists into fresh-variable triples:
    * `?s p [ a X ; q [ r ?y ] ]` → `?s p ?_b0 . ?_b0 a X ; q ?_b1 .
    * ?_b1 r ?y` — the time-items.rq `[ a wikibase:BestRank ; … ]`
    * statement-reification access path, desugared textually so the
    * triple parser never sees a bracket. */
  private def desugarBlank(chunk0: String, fresh: Fresh): String = {
    var chunk = chunk0
    var idx = indexOfUnquoted(chunk, '[')
    while (idx >= 0) {
      val e = matchDelim(chunk, idx, '[', ']')
      val inner = chunk.substring(idx + 1, e - 1).trim
      val v = fresh.next()
      chunk = chunk.substring(0, idx) + s"?$v" + chunk.substring(e) +
        (if (inner.isEmpty) "" else s" . ?$v $inner")
      idx = indexOfUnquoted(chunk, '[')
    }
    chunk
  }

  private def parseValues(varsTxt: String, rowsTxt: String): ValuesBlock = {
    val vars = ProjVarRe.findAllMatchIn(varsTxt).toList.map(_.group(1))
    require(vars.nonEmpty, s"VALUES block declares no variables: '${varsTxt.trim.take(40)}'")
    val rows: Seq[Seq[Term]] =
      if (varsTxt.trim.startsWith("(")) {
        val rs = ValuesRowRe.findAllMatchIn(rowsTxt).toList.map { r =>
          val ts = TokenRe.findAllIn(r.group(1)).toList.map(term)
          require(ts.length == vars.length,
            s"VALUES row arity ${ts.length} != ${vars.length} vars in '${r.matched}'")
          ts
        }
        // loose tokens outside the row parens would be silently
        // dropped data — reject
        require(ValuesRowRe.replaceAllIn(rowsTxt, " ").trim.isEmpty,
          s"multi-var VALUES rows must be parenthesized: '${rowsTxt.trim.take(60)}'")
        rs
      } else TokenRe.findAllIn(rowsTxt).toList.map(t => Seq(term(t)))
    require(rows.nonEmpty, s"empty VALUES block for ?${vars.mkString(" ?")}")
    ValuesBlock(vars, rows)
  }

  private def parseConcatPart(p0: String): SExpr = p0.trim match {
    case StrOfVarRe(v) => SStr(v)
    case p if p.length >= 2 &&
      ((p.head == '"' && p.last == '"') || (p.head == '\'' && p.last == '\'')) =>
      SLit(p.substring(1, p.length - 1))
    case p if p.startsWith("?") && p.length > 1 &&
      p.drop(1).forall(ch => ch.isLetterOrDigit || ch == '_') => SStr(p.drop(1))
    case other => throw new IllegalArgumentException(
      s"unsupported CONCAT part: '$other' (string literal, STR(?v), or ?v)")
  }

  /** Restrict a MINUS / FILTER NOT EXISTS body to its supported shape
    * (triple patterns + filters — a pattern-less group is the
    * reference's pure-regex row exclusion). */
  private def minusOf(b: Body, what: String): Minus = {
    require(b.optionals.isEmpty && b.unions.isEmpty && b.services.isEmpty &&
      b.minuses.isEmpty && b.binds.isEmpty && b.iriBinds.isEmpty &&
      b.exprBinds.isEmpty && b.ifBinds.isEmpty && b.values.isEmpty &&
      b.labelLangs.isEmpty,
      s"unsupported nested group inside $what — only triple patterns and FILTERs there")
    require(b.patterns.nonEmpty || b.filters.nonEmpty, s"empty $what group")
    Minus(b.patterns, b.filters)
  }

  /** Parse one brace level of a WHERE body into a [[Body]], recursing
    * into every nested group. A single left-to-right scan: keyword
    * constructs are recognized at token boundaries (quote-aware, so a
    * keyword inside a string literal is content), their brace/paren
    * extents matched exactly, and the text runs BETWEEN constructs
    * become triple chunks — which makes the SPARQL grammar's dot-less
    * triple termination before a keyword (`?s p ?o BIND(…)`,
    * get_gnd_from_fg_and_wd.rq) fall out naturally: each run is its
    * own statement list. */
  private def parseBody(body0: String, prefixes: Map[String, String],
      fresh: Fresh): Body = {
    import scala.collection.mutable.ListBuffer
    val s = body0; val n = s.length
    var i = 0; var q = ' '
    // triple text runs, parsed after the scan, and a bare nested
    // group's already-parsed patterns, in body order
    val chunks = ListBuffer[Either[String, Seq[Pattern]]]()
    val sb = new StringBuilder
    val optionals = ListBuffer[Body](); val unions = ListBuffer[Seq[Body]]()
    val filters = ListBuffer[Filt](); val minuses = ListBuffer[Minus]()
    val binds = scala.collection.mutable.LinkedHashMap[String, Term]()
    val iriBinds = ListBuffer[(String, String, String)]()
    val exprBinds = ListBuffer[ExprBind](); val ifBinds = ListBuffer[IfBind]()
    val values = ListBuffer[ValuesBlock](); val services = ListBuffer[ServiceBlock]()
    var labelLangs: Option[Seq[String]] = None

    def flushChunk(): Unit = {
      if (sb.toString.exists(c => !c.isWhitespace && c != '.')) chunks += Left(sb.toString)
      sb.clear()
    }
    def mergeBare(b: Body): Unit = {
      // a bare nested group `{ … }` (no UNION partner) groups without
      // scoping in this subset — merge its content into this level
      chunks += Right(b.patterns)
      optionals ++= b.optionals; unions ++= b.unions; filters ++= b.filters
      minuses ++= b.minuses; binds ++= b.binds; iriBinds ++= b.iriBinds
      exprBinds ++= b.exprBinds; ifBinds ++= b.ifBinds; values ++= b.values
      services ++= b.services
      labelLangs = labelLangs.orElse(b.labelLangs)
    }
    def bracedAt(j0: Int): Boolean = { val j = skipWs(s, j0); j < n && s(j) == '{' }

    while (i < n) {
      val c = s(i)
      if (q != ' ') { sb += c; if (c == q) q = ' '; i += 1 }
      else if (c == '"' || c == '\'') { q = c; sb += c; i += 1 }
      else if (c == '[') { val e = matchDelim(s, i, '[', ']'); sb ++= s.substring(i, e); i = e }
      else if (c == '{') {
        // bare group — possibly the head of a UNION chain
        flushChunk()
        val branches = ListBuffer[String]()
        var e = matchDelim(s, i, '{', '}')
        branches += s.substring(i + 1, e - 1)
        var j = skipWs(s, e)
        var chained = false
        while (kwAt(s, j, "UNION") > 0) {
          chained = true
          val k = skipWs(s, kwAt(s, j, "UNION"))
          require(k < n && s(k) == '{',
            s"UNION must be followed by a braced group: '${s.substring(k).trim.take(40)}'")
          e = matchDelim(s, k, '{', '}')
          branches += s.substring(k + 1, e - 1)
          j = skipWs(s, e)
        }
        i = j
        if (chained) unions += branches.toList.map(b => parseBody(b, prefixes, fresh))
        else mergeBare(parseBody(branches.head, prefixes, fresh))
      }
      else if (kwAt(s, i, "OPTIONAL") > 0 && bracedAt(i + 8)) {
        flushChunk()
        val j = skipWs(s, i + 8)
        val e = matchDelim(s, j, '{', '}')
        val b = parseBody(s.substring(j + 1, e - 1), prefixes, fresh)
        if (b != Body()) optionals += b // `OPTIONAL { }` (hirschfeld) is a no-op
        i = e
      }
      else if (kwAt(s, i, "MINUS") > 0 && bracedAt(i + 5)) {
        flushChunk()
        val j = skipWs(s, i + 5)
        val e = matchDelim(s, j, '{', '}')
        minuses += minusOf(parseBody(s.substring(j + 1, e - 1), prefixes, fresh), "MINUS")
        i = e
      }
      else if (kwAt(s, i, "FILTER") > 0) {
        flushChunk()
        var j = skipWs(s, i + 6)
        if (kwAt(s, j, "NOT") > 0) {
          j = skipWs(s, kwAt(s, j, "NOT"))
          val je = kwAt(s, j, "EXISTS")
          require(je > 0, s"unsupported FILTER: '${s.substring(i).trim.take(60)}'")
          j = skipWs(s, je)
          require(j < n && s(j) == '{', "FILTER NOT EXISTS needs a braced group")
          val e = matchDelim(s, j, '{', '}')
          minuses += minusOf(parseBody(s.substring(j + 1, e - 1), prefixes, fresh),
            "FILTER NOT EXISTS")
          i = e
        } else {
          require(j < n && s(j) == '(',
            s"unsupported FILTER: '${s.substring(i).trim.take(60)}'")
          val e = matchDelim(s, j, '(', ')')
          filters += parseFilt(s.substring(j + 1, e - 1))
          i = e
        }
      }
      else if (kwAt(s, i, "SERVICE") > 0) {
        flushChunk()
        var j = skipWs(s, i + 7)
        if (s.regionMatches(true, j, "wikibase:label", 0, 14)) {
          j = skipWs(s, j + 14)
          require(j < n && s(j) == '{', "SERVICE wikibase:label needs a braced block")
          val e = matchDelim(s, j, '{', '}')
          val langs = LangParamRe.findFirstMatchIn(s.substring(j + 1, e - 1))
            .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq("[AUTO_LANGUAGE]"))
          labelLangs = labelLangs.orElse(Some(langs))
          i = e
        } else {
          require(j < n && s(j) == '<',
            "unsupported SERVICE form — only SERVICE wikibase:label and " +
              "SERVICE <endpoint> {…} (compiled against a registered graph) are recognized")
          val ie = s.indexOf('>', j)
          require(ie > 0, "unterminated SERVICE endpoint IRI")
          val ep = s.substring(j + 1, ie)
          j = skipWs(s, ie + 1)
          require(j < n && s(j) == '{', s"SERVICE <$ep> needs a braced body")
          val e = matchDelim(s, j, '{', '}')
          val sb2 = parseBody(s.substring(j + 1, e - 1), prefixes, fresh)
          // a SERVICE whose body is empty after no-op elimination
          // (companions_hirschfeld.rq's trailing wikidata block holds
          // one empty OPTIONAL) binds nothing and joins nothing — drop
          // it rather than demand a registered graph for a no-op
          if (sb2.patterns.nonEmpty || sb2.unions.nonEmpty || sb2.optionals.nonEmpty ||
              sb2.binds.nonEmpty || sb2.iriBinds.nonEmpty || sb2.exprBinds.nonEmpty ||
              sb2.values.nonEmpty || sb2.minuses.nonEmpty || sb2.filters.nonEmpty ||
              sb2.services.nonEmpty)
            services += ServiceBlock(ep, sb2)
          i = e
        }
      }
      else if (kwAt(s, i, "VALUES") > 0) {
        flushChunk()
        val j = skipWs(s, i + 6)
        val bOpen = s.indexOf('{', j)
        require(bOpen > j, "VALUES needs a braced data block")
        val e = matchDelim(s, bOpen, '{', '}')
        values += parseValues(s.substring(j, bOpen), s.substring(bOpen + 1, e - 1))
        i = e
      }
      else if (kwAt(s, i, "BIND") > 0 && {
        val j = skipWs(s, i + 4); j < n && s(j) == '(' }) {
        flushChunk()
        val j = skipWs(s, i + 4)
        val e = matchDelim(s, j, '(', ')')
        val inner = s.substring(j + 1, e - 1).trim
        val (exprTxt, alias) = inner match {
          case BindAsRe(ex, al) => (ex.trim, al)
          case _ => throw new IllegalArgumentException(
            s"unsupported BIND (need 'expr AS ?var'): '${inner.take(60)}'")
        }
        exprTxt match {
          case IriConcatRe(pfx, v) =>
            val iri = prefixes.getOrElse(pfx, throw new IllegalArgumentException(
              s"BIND IRI prefix '$pfx:' has no PREFIX declaration in the query"))
            iriBinds += ((alias, iri, v))
          case IfEqRe(v1, v2, t, el) => ifBinds += IfBind(alias, v1, v2, t, el)
          case ReplaceRe(v, p, r) => exprBinds += ExprBind(alias, SReplace(v, p, r))
          case ConcatRe(args) => exprBinds += ExprBind(alias,
            SConcat(quoteAwareSplit(args, ',').toSeq.map(parseConcatPart)))
          case single if !single.exists(_.isWhitespace) => binds(alias) = term(single)
          case other => throw new IllegalArgumentException(
            s"unsupported BIND expression: '${other.take(60)}'")
        }
        i = e
      }
      else { sb += c; i += 1 }
    }
    flushChunk()
    val pats = chunks.toList.flatMap {
      case Left(ch) => triples(desugarBlank(ch, fresh))
      case Right(ps) => ps
    }
    Body(pats, optionals.toList, unions.toList, filters.toList, minuses.toList,
      binds.toMap, iriBinds.toList, exprBinds.toList, ifBinds.toList,
      values.toList, services.toList, labelLangs)
  }

  private def exprDepsOf(e: SExpr): Seq[String] = e match {
    case SLit(_) => Nil
    case SStr(v) => Seq(v)
    case SReplace(v, _, _) => Seq(v)
    case SConcat(ps) => ps.flatMap(exprDepsOf)
  }

  /** The variables of a pattern: subject, predicate, object. */
  private def patVars(p: Pattern): Seq[String] =
    (p.s match { case V(x) => Seq(x); case _ => Nil }) ++
      (p.p match { case PVar(x) => Seq(x); case _ => Nil }) ++
      (p.o match { case V(x) => Seq(x); case _ => Nil })

  private def varsOf(pats: Seq[Pattern]): Seq[String] = pats.flatMap(patVars).distinct

  // ---- body traversal ------------------------------------------------

  /** The one walk over a [[Body]] tree: `f` gets each group and the
    * results of its OPTIONAL groups and UNION branches, in that order.
    * SERVICE bodies are not children — they compile against their own
    * graph — and MINUS groups are flat. */
  private def fold[A](b: Body)(f: (Body, Seq[A]) => A): A =
    f(b, (b.optionals ++ b.unions.flatten).map(fold(_)(f)))

  /** `b` and every group below it that compiles against `b`'s store,
    * in pre-order. */
  private def groups(b: Body): Seq[Body] = fold[Seq[Body]](b)((g, kids) => g +: kids.flatten)

  /** Every SERVICE block in `b`'s tree, nested ones included. */
  private def servicesIn(b: Body): Seq[ServiceBlock] =
    groups(b).flatMap(_.services).flatMap(sv => sv +: servicesIn(sv.body))

  /** Variables bound anywhere in a body subtree — the projection of a
    * SERVICE sub-query (constant binds excluded: they surface as
    * columns but are projected away by the sub-select). */
  private def varsOfBody(b: Body): Seq[String] = fold[Seq[String]](b)((g, kids) =>
    g.patterns.flatMap(patVars) ++ kids.flatten ++
      g.iriBinds.map(_._1) ++ g.exprBinds.map(_.alias) ++ g.ifBinds.map(_.alias) ++
      g.binds.keys ++ // OWN constant binds (branch tags) project out
      g.services.flatMap(s => varsOfBody(s.body))).distinct

  /** Pattern sites that scan `b`'s store: triple patterns, MINUS
    * groups' patterns and the label service, through OPTIONAL/UNION
    * nesting. SERVICE bodies scan their own [[ServiceGraph]] store and
    * count toward that endpoint instead. */
  private def storeSites(b: Body): Int = groups(b).map(g =>
    g.patterns.size + g.minuses.map(_.patterns.size).sum +
      (if (g.labelLangs.isDefined) 1 else 0)).sum

  /** The label-service languages of `b`'s tree: the first block in
    * pre-order (WDQS treats the block as global). */
  private def labelLangsOf(b: Body): Option[Seq[String]] = groups(b).flatMap(_.labelLangs).headOption

  /** Substitute the BIND constants in scope into a pattern's subject,
    * object and — for a predicate variable bound to a predicate-name
    * constant — predicate slot (the pattern then compiles like any
    * fixed-predicate pattern). */
  private def substWith(p: Pattern, binds: Map[String, Term]): Pattern = Pattern(
    p.s match { case V(n) if binds.contains(n) => binds(n); case s => s },
    p.p match {
      case PVar(v) => binds.get(v) match { case Some(PredConst(n)) => Name(n); case _ => p.p }
      case other => other
    },
    p.o match { case V(n) if binds.contains(n) => binds(n); case o => o })

  /** Every pattern that scans `b`'s store (its groups' and MINUS
    * groups' patterns) with the BIND constants in scope substituted:
    * a level's binds, each turned into a term by `resolve`, scope to
    * its subtree. */
  private def scopedPatterns(b: Body, resolve: Term => Term): Seq[Pattern] =
    fold[Map[String, Term] => Seq[Pattern]](b)((g, kids) => { inherited =>
      val binds = inherited ++ g.binds.map { case (v, t) => v -> resolve(t) }
      (g.patterns ++ g.minuses.flatMap(_.patterns)).map(substWith(_, binds)) ++
        kids.flatMap(_(binds))
    })(Map.empty)

  private def term(tok: String): Term = tok.trim match {
    case t if t.startsWith("?")                      => V(t.drop(1))
    case t if t.startsWith("\"") && t.endsWith("\"") => Lit(t.drop(1).dropRight(1))
    case t if t.length >= 2 && t.startsWith("'") && t.endsWith("'") =>
      Lit(t.drop(1).dropRight(1)) // SPARQL's single-quoted literal form
    case t if t.matches("-?\\d+")                    => Num(t.toLong)
    case t if PrefixedRe.matches(t)                  => Prefixed(t)
    case t if t.startsWith("<") && t.endsWith(">")   => Iri(t.drop(1).dropRight(1))
    case t => throw new IllegalArgumentException(s"unsupported term: '$t'")
  }

  /** A predicate token's slot, decided here once: `?p`, the
    * `wikibase:statements` count, a plain name (local, prefixed,
    * `<IRI>` or `a` — names never contain path operators; an IRI may
    * contain `/` but is not a path), or else a property path or a
    * negated property set, parsed by [[pathOf]]. */
  private def predicate(tok: String): Pred =
    if (tok.startsWith("?")) PVar(tok.drop(1))
    else if (tok == "wikibase:statements") StatementCount
    else if ((tok.startsWith("<") && tok.endsWith(">")) ||
      !(tok.startsWith("!") || tok.endsWith("?") || "/*|^+(".exists(c => tok.contains(c))))
      Name(tok)
    else pathOf(tok) match {
      case PNeg(fwd, inv) => NegSet(fwd, inv)
      case e => Path(arms(e))
    }

  /** The SPARQL 1.1 path grammar's parse tree (§18: alternative over
    * sequence over an optionally inverse element with one modifier),
    * lowered to [[PathStep]]s by [[arms]]. Parentheses leave no node,
    * so `((p/q))` and `p/q` parse alike, and [[inverse]] pushes `^`
    * down to the names. */
  private sealed trait PathExpr
  private final case class PLeaf(name: String, inv: Boolean) extends PathExpr
  private final case class PAlt(arms: Seq[PathExpr]) extends PathExpr
  private final case class PSeq(elts: Seq[PathExpr]) extends PathExpr
  /** `^(e₁/…/eₙ)`, kept whole so that it splices into an enclosing
    * sequence. */
  private final case class PInvSeq(elts: Seq[PathExpr]) extends PathExpr
  private final case class PMod(e: PathExpr, mod: Char) extends PathExpr
  /** `!(p|^q)`: the whole path, or the whole path under `^`. */
  private final case class PNeg(fwd: Seq[String], inv: Seq[String]) extends PathExpr

  /** `^e` — the SPARQL 1.1 rewrites: `^(p|q) = ^p|^q`, `^(p*) =
    * (^p)*` (a p-chain read backwards is a ^p-chain), `^^p = p`, and
    * `^!(p|^q) = !(^p|q)` (each set arm's direction flips). A sequence
    * inverts in [[steps]]. */
  private def inverse(e: PathExpr): PathExpr = e match {
    case PLeaf(n, inv) => PLeaf(n, !inv)
    case PAlt(as) => PAlt(as.map(inverse))
    case PSeq(es) => PInvSeq(es)
    case PInvSeq(es) => PSeq(es)
    case PMod(x, m) => PMod(inverse(x), m)
    case PNeg(fwd, inv) => PNeg(inv, fwd)
  }

  private def unsupportedSegment(seg: String, raw: String): Nothing =
    throw new IllegalArgumentException(s"unsupported path segment '$seg' in '$raw' " +
      "(supported: p, ^p, ^(p/q), p|q, p*, p+, p/q, nested parenthesized paths)")

  /** Parse a path or negated-set token. A step name is a local or
    * prefixed name or an `<IRI>`; anything else — an empty step, a
    * stray operator, an unbalanced paren — is a loud reject, never a
    * silently wrong plan. */
  private def pathOf(raw: String): PathExpr = {
    import scala.collection.mutable.ListBuffer
    var i = 0
    def peek: Char = if (i < raw.length) raw(i) else ' '
    def unbalanced(): Nothing =
      throw new IllegalArgumentException(s"unbalanced parens in path '$raw'")
    def alt(): PathExpr = {
      val as = ListBuffer(seq())
      while (peek == '|') { i += 1; as += seq() }
      if (as.size == 1) as.head else PAlt(as.toList)
    }
    def seq(): PathExpr = {
      val es = ListBuffer(elt())
      while (peek == '/') { i += 1; es += elt() }
      if (es.size == 1) es.head else PSeq(es.toList)
    }
    // '^' applies to the modified element: ^p* = ^(p*)
    def elt(): PathExpr =
      if (peek == '^') { i += 1; inverse(elt()) }
      else {
        val e = primary()
        if ("*+?".contains(peek)) { i += 1; PMod(e, raw(i - 1)) } else e
      }
    def primary(): PathExpr = peek match {
      case '(' =>
        i += 1
        val e = alt()
        if (peek != ')') unbalanced()
        i += 1; e
      case '!' =>
        i += 1
        val set = elt() match { case PAlt(as) => as; case e => Seq(e) }
        val names = set.collect { case l: PLeaf => l }
        if (names.size < set.size) unsupportedSegment(raw, raw)
        PNeg(names.filterNot(_.inv).map(_.name), names.filter(_.inv).map(_.name))
      case _ =>
        val j = i
        if (peek == '<') i = raw.indexOf('>', i) + 1 // an IRI may hold '/'
        else while (i < raw.length && !"/|^*+?()!".contains(raw(i))) i += 1
        val n = raw.substring(j, math.max(i, j))
        if (!(PrefixedRe.matches(n) || n.matches("\\w+") ||
            (n.length > 2 && n.startsWith("<") && n.endsWith(">")))) unsupportedSegment(n, raw)
        PLeaf(n, inv = false)
    }
    val e = alt()
    if (i < raw.length) {
      if (raw.count(_ == '(') != raw.count(_ == ')')) unbalanced()
      unsupportedSegment(raw.substring(i), raw)
    }
    e
  }

  /** A parsed path's top-level arms. SPARQL gives `|` LOWER
    * precedence than `/` (PathAlternative over PathSequence), so
    * `p/q|r` is (p/q)|r: each arm is a full sequence and the result
    * is the BAG UNION of the arm frames. An alternation of plain or
    * inverse names keeps the single-step per-arm plan (the
    * kg_path_alt shape: one filtered scan, no union of closures). */
  private def arms(e: PathExpr): Seq[Seq[PathStep]] = e match {
    case PAlt(as) if !as.forall(_.isInstanceOf[PLeaf]) => as.map(steps)
    case _ => Seq(steps(e))
  }

  /** `e` as a `/`-sequence of steps. `^(p₁/…/pₙ) = ^pₙ/…/^p₁`
    * (inverse distributes over sequence in REVERSE order) splices into
    * an enclosing sequence, so a constant subject's seed still
    * pipelines through the advance joins instead of materializing an
    * unseeded sub-relation; any other element, a parenthesized
    * sequence included, is one step. */
  private def steps(e: PathExpr): Seq[PathStep] = e match {
    case PSeq(es) => es.flatMap { case x: PSeq => Seq(step(x)); case x => steps(x) }
    case PInvSeq(es) => es.reverse.flatMap(x => steps(inverse(x)))
    case _ => Seq(step(e))
  }

  /** `e` as ONE step: an alternation's name arms become scan
    * alternatives and its other arms SUB-PATHS whose (a, b) relations
    * union with the names' edges; a sequence is one sub-path; a
    * modifier over an already-modified step wraps it. */
  private def step(e: PathExpr): PathStep = e match {
    case PLeaf(n, inv) => PathStep(Seq((n, inv)), star = false)
    case PAlt(as) =>
      val (names, subs) = as.map(steps).partition {
        case Seq(PathStep(Seq(_), false, false, false, Nil)) => true
        case _ => false
      }
      PathStep(names.map(_.head.alts.head), star = false, subs = subs)
    case PMod(x, m) =>
      val s0 = step(x)
      val s = if (s0.star || s0.plus || s0.opt) PathStep(Nil, star = false, subs = Seq(Seq(s0))) else s0
      s.copy(star = m == '*', plus = m == '+', opt = m == '?')
    case PNeg(_, _) => throw new IllegalArgumentException(
      "unsupported path segment: a negated property set must be the whole path")
    case _ => steps(e) match {
      case Seq(one) => one
      case many => PathStep(Nil, star = false, subs = Seq(many))
    }
  }

  /** Split only OUTSIDE double quotes and `<…>` IRI brackets — a `.`
    * inside "lit.eral" or <https://example.org/x> is content, not a
    * statement separator. */
  private def quoteAwareSplit(s: String, sep: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var q = ' '; var inIri = false // q = the OPENING quote char (both
    // styles — an apostrophe inside "…" stays content, and vice versa)
    s.foreach { c =>
      if (q != ' ') { if (c == q) q = ' '; sb += c }
      else if ((c == '"' || c == '\'') && !inIri) { q = c; sb += c }
      else if (c == '<') { inIri = true; sb += c }
      else if (c == '>') { inIri = false; sb += c }
      else if (c == sep && !inIri) { out += sb.toString; sb.clear() }
      else sb += c
    }
    out += sb.toString
    out.toArray
  }

  /** A predicate token glued to its object variable
    * (`dbo:thumbnail?image`, companions_and_relations.rq's DBpedia
    * OPTIONAL) splits into two tokens; a path `?` MODIFIER (`p?`,
    * `p?/q`) does not match the tail shape and stays one token for
    * the path parser. */
  private def splitGlued(tok: String): Seq[String] =
    if (tok.isEmpty || "\"'?<".contains(tok.head)) Seq(tok)
    else {
      val qi = tok.indexOf('?')
      if (qi > 0 && qi < tok.length - 1 &&
        tok.substring(qi + 1).forall(ch => ch.isLetterOrDigit || ch == '_'))
        Seq(tok.substring(0, qi), tok.substring(qi))
      else Seq(tok)
    }

  /** Statements: `.`-separated, each a triple with optional `;`
    * continuations reusing the subject (`?s p1 o1; p2 o2 .`); both
    * separators are quote-aware so literals may hold `.`/`;`. A
    * path expression is one whitespace-free token in the predicate
    * slot, so tokenization is unchanged; [[predicate]] decides the
    * slot's kind. */
  private def triples(body: String): Seq[Pattern] =
    quoteAwareSplit(body, '.').map(_.trim).filter(_.nonEmpty).flatMap { stmt =>
      val groups = quoteAwareSplit(stmt, ';').map(_.trim).filter(_.nonEmpty)
      val headToks = TokenRe.findAllIn(groups.head).toList.flatMap(splitGlued)
      require(headToks.length == 3, s"unsupported pattern (need 's p o'): '${groups.head}'")
      val subj = term(headToks.head)
      val first = Pattern(subj, predicate(headToks(1)), term(headToks(2)))
      val rest = groups.tail.map { g =>
        val toks = TokenRe.findAllIn(g).toList.flatMap(splitGlued)
        require(toks.length == 2, s"unsupported ';' continuation (need 'p o'): '$g'")
        Pattern(subj, predicate(toks.head), term(toks(1)))
      }
      first +: rest
    }.toSeq

  private def parseFilt(body: String): Filt = body.trim match {
    case LangRe(v, lang) => FLang(v, lang)
    case RegexRe(v, re) => FRegex(v, re)
    case EqRe(v, value) => FEq(v, value)
    case other => throw new IllegalArgumentException(s"unsupported FILTER: '$other'")
  }

  /** Parse the supported SPARQL subset — SELECT, CONSTRUCT, ASK and
    * DESCRIBE; throws with the offending fragment on anything outside
    * it. */
  def parse(q0: String): Query = {
    // strip comments (quote-aware: a '#' inside a string literal is
    // content, not a comment), then the PREFIX declarations wherever
    // they sit (a declaration may share its line with SELECT)
    val q = PrefixDeclRe.replaceAllIn(q0.linesIterator
      .map { l =>
        val sb = new StringBuilder; var inQ = false; var done = false
        l.foreach { ch =>
          if (!done) {
            if (ch == '"') { inQ = !inQ; sb += ch }
            else if (ch == '#' && !inQ) done = true
            else sb += ch
          }
        }
        sb.toString
      }
      .mkString("\n"), " ")
    // prefixes resolve the IRI-CONCAT BINDs; everything else in the
    // body is the recursive scanner's job
    val prefixes = PrefixDeclRe.findAllMatchIn(q0).map(m => m.group(1) -> m.group(2)).toMap
    def query(form: Form, select: Seq[String], aggs: Seq[Agg], distinct: Boolean,
        where: Seq[String]): Query = {
      val Seq(body0, _, group, _, order, _, limit, _, offset) = where
      val root = parseBody(body0, prefixes, new Fresh)
      require(root.patterns.nonEmpty || root.unions.nonEmpty ||
        root.services.nonEmpty || root.optionals.nonEmpty, "empty graph pattern")
      val groupVars = Option(group)
        .map(_.trim.split("\\s+").map(_.stripPrefix("?")).toSeq).getOrElse(Seq.empty)
      val vars = if (form == Ask) varsOfBody(root) else select
      require(aggs.nonEmpty || vars.nonEmpty, form match {
        case Ask => "ASK body binds no variables"
        case Construct(_) => "CONSTRUCT template binds no variables"
        case _ => "empty SELECT projection"
      })
      // aggregates ⟺ GROUP BY, and the group keys are exactly the
      // plain projected vars (both empty = one global aggregate row)
      require(if (aggs.isEmpty) groupVars.isEmpty
        else groupVars.sorted == vars.sorted,
        s"aggregate SELECT needs GROUP BY exactly over its plain variables " +
          s"(got GROUP BY ${groupVars.mkString(",")} vs vars ${vars.mkString(",")})")
      Query(
        select = vars, aggs = aggs,
        distinct = distinct,
        body = root,
        groupBy = groupVars,
        orderKeys = Option(order).map(OrderKeyRe.findAllMatchIn(_).toList.map(m =>
            (m.group(2), m.group(1) != null && m.group(1).equalsIgnoreCase("DESC"))).toSeq)
          .getOrElse(Seq.empty),
        limit = Option(limit).map(_.toInt),
        offset = Option(offset).map(_.toInt),
        form = form)
    }
    q match {
      case ConstructRe(template, where @ _*) =>
        val tpats = triples(template)
        require(tpats.nonEmpty, "empty CONSTRUCT template")
        query(Construct(tpats), varsOf(tpats), Nil, distinct = false, where)
      case AskRe(where @ _*) => query(Ask, Nil, Nil, distinct = false, where)
      case DescribeRe(v, where @ _*) => query(Describe(v), Seq(v), Nil, distinct = false, where)
      case SelectRe(distinct, proj, where @ _*) =>
        // the projection is plain vars and aggregates, in order
        val aggs = ProjAggRe.findAllMatchIn(proj).toList
          .map(m => Agg(m.group(1) != null, m.group(2), m.group(3))) ++
          ProjAgg2Re.findAllMatchIn(proj).toList
            .map(m => Agg(m.group(2) != null, m.group(3), m.group(5),
              m.group(1).toLowerCase, Option(m.group(4))))
        val plainVars = ProjVarRe.findAllMatchIn(
            ProjAgg2Re.replaceAllIn(ProjAggRe.replaceAllIn(proj, " "), " "))
          .toList.map(_.group(1))
        query(Select, plainVars, aggs, distinct != null, where)
      case _ => throw new IllegalArgumentException(
        "unsupported query shape (need SELECT, CONSTRUCT, ASK or DESCRIBE ... WHERE {...})")
    }
  }

  // ---- compiler ------------------------------------------------------

  /** Predicates whose objects are entities, per the built-in store's
    * mapping dictionary — the default typing source (see object doc). */
  lazy val defaultEntityPreds: Set[String] =
    Triples.rules.collect { case r if r.oNs.isDefined => r.p }.toSet

  /** A statements frame with its OWN dialect maps and typing
    * dictionary: a registered federation target standing in for a
    * remote endpoint, and also the store a query itself runs against
    * ([[runOn]]'s arguments). Single-engine federation joins graphs on
    * a SHARED entity id space (the kg_graph_diff model — both graphs
    * key their common entities identically); the IRI-string round
    * trip the public endpoints use (qid → IRI → remote subject) is
    * therefore unnecessary and, if attempted, rejects at the join-key
    * type check rather than silently matching nothing. */
  final case class ServiceGraph(statements: DataFrame,
      predAliases: Map[String, String] = Map.empty,
      entityAliases: Map[String, Long] = Map.empty,
      entityValued: Set[String] = Set.empty,
      /** When set, an OUTER string column holding `prefix` + "Q" +
        * digits joins this graph's entity ids as `ns + digits` — the
        * qid→IRI→remote round trip the reference's wikidata SERVICE
        * blocks perform (companions branches 3/4), declared
        * explicitly so the mapping is part of the graph's dialect
        * (and replayable by the oracle) rather than an implicit
        * string coercion. */
      iriScheme: Option[(String, Long)] = None)

  /** A prefixed-name or `<IRI>` term resolved through `g`'s dialect:
    * an entity alias becomes that entity id; a name only in the
    * PREDICATE map is a predicate-name constant (BIND(fgt:P117 as ?p)
    * — the compare files' parameterized-property idiom); an IRI
    * without an alias stays an [[Iri]] and the typing branches decide
    * (literal-valued predicate → compare the bare IRI text, entity
    * position → loud reject). None: a prefixed name with no alias. */
  private def resolveIn(g: ServiceGraph, t: Term): Option[Term] = t match {
    case Prefixed(name) =>
      g.entityAliases.get(name).map(Num(_): Term)
        .orElse(g.predAliases.get(name).map(PredConst(_): Term))
    case Iri(iri) => Some(g.entityAliases.get(s"<$iri>").map(Num(_): Term).getOrElse(t))
    case other => Some(other)
  }

  /** A predicate slot's store name under `g`'s dialect: the rdf:type
    * shorthand `a`, prefixed names and `<IRI>`s resolve through the
    * predicate map (None without an alias); a local name is itself. */
  private def predIn(g: ServiceGraph, p: String): Option[String] =
    if (p == "a" || PrefixedRe.matches(p) || (p.startsWith("<") && p.endsWith(">")))
      g.predAliases.get(p)
    else Some(p)

  /** The predicate a one-column VALUES row names for a predicate
    * variable (the db_all_person_relations.rq allow-list idiom): a
    * prefixed name or an `<IRI>` through `g`'s predicate map, as
    * [[predIn]] resolves a predicate slot, a quoted local name as-is.
    * None: no alias, or not a name. */
  private def valuePred(g: ServiceGraph, row: Seq[Term]): Option[String] = row match {
    case Seq(Prefixed(n)) => g.predAliases.get(n)
    case Seq(Iri(iri)) => g.predAliases.get(s"<$iri>")
    case Seq(Lit(s)) => Some(s)
    case _ => None
  }

  /** Site-count switch for materializing the PREDICATE-PRUNED store
    * once per compiled query (lazy serialized checkpoint,
    * [[graft.util.Checkpoints.compact]]). Every fixed-
    * predicate pattern site compiles to its own scan of the statements
    * frame, and on a DERIVED store (the projection+union mapping,
    * reified sitelinks, synthetic service twins) Catalyst re-executes
    * that whole sub-plan per site — the byte-for-byte reference
    * queries have 10–40 sites, so the store union ran dozens of times
    * per query, and the embedded sub-plan copies made driver-side
    * planning itself a measured 1.7–3.3 s per query (kg_sparql_orgs:
    * wall 4.4 s vs stage-sum 2.8 s; kg_within_relations: wall 5.2 s
    * vs 1.9 s). Above the threshold, the store FILTERED TO THE
    * QUERY'S CONSTANT PREDICATES materializes once (first action —
    * the union's constant-folding prunes it to exactly the needed
    * branches, so the materialization is bounded by those branches,
    * not the store) and every fixed-predicate site filters the small
    * checkpointed blocks; the plan shrinks from sites × store-plan to
    * sites × leaf. Free-predicate scans, negated sets, paths and the
    * wikibase:statements census keep the raw lazy store — routing is
    * fail-safe (a predicate MISSED by collection just keeps the raw
    * store; results cannot change). A first cut materialized the FULL
    * store instead: task count exploded 74 → 1154 on kg_sparql_orgs
    * because every site then read all ~1.9 M rows — pruning must
    * survive materialization, hence the predicate filter. Below the
    * threshold, small queries keep the lazy scans and their parquet
    * predicate pushdown. */
  private val StoreMaterializeSites = 6

  /** Site-count switch for the PER-ENDPOINT shared service stores
    * (round-13: the remaining cost of the companions/noconst/test
    * family was each SERVICE block re-deriving its endpoint's store
    * union per pattern site — the sub-bodies rarely cross
    * [[StoreMaterializeSites]] individually, so the round-12 pruned
    * store never fired inside SERVICE compiles). The sites and
    * constant predicates of every SERVICE body are counted per
    * endpoint, THROUGH that endpoint's dialect maps, and one
    * predicate-pruned lazy checkpoint per qualifying endpoint serves
    * every SERVICE sub-compile against it. The raw-store sharing
    * attempt this replaces (round 12, rejected) doubled task counts
    * because fixed-predicate service scans lost their branch pruning;
    * pruning-before-materialization is what makes this one win,
    * exactly as it did for the outer store. Threshold below the outer
    * store's 6: the shared store amortizes across ALL of an endpoint's
    * blocks, and the endpoint unions (full mapping store, dbpedia
    * stand-in) are expensive enough that 4 scans already pay for one
    * bounded materialization. */
  private val ServiceStoreMaterializeSites = 4

  /** A pruned materialization of one statements store: the store
    * filtered to `preds` is what every fixed-predicate, path-step and
    * covered-VALUES scan of `preds` reads.
    *
    * Deliberately NO raw (unfiltered) tier for free-predicate scans —
    * measured twice in round 13 and rejected twice: sharing the full
    * store as a serialized checkpoint regressed kg_sparql_companions
    * 6.0 → 7.5 s warm (write+deserialize tax), and as a plain
    * deserialized checkpoint 6.0 → 8.2 s (the materialization computes
    * ALL FIVE columns of every row, where each per-scan derivation
    * reads only its column-pruned, predicate-pushed parquet slices —
    * the union re-derivation the sharing was meant to save is cheaper
    * than losing scan pruning). Free-predicate scans keep the derived
    * store; that echoes the round-12 full-store rejection, now with
    * the fixed-predicate routing ruled out as the cause. A round-12
    * attempt at sharing a SERVICE endpoint's raw store the same way
    * doubled kg_sparql_companions' tasks (548 → 1163). */
  private final case class SharedStore(preds: Set[String], pruned: DataFrame)

  /** The constant predicates the scans of `bodies` read from `g`'s
    * store, resolved through `g`'s dialect, with BIND constants
    * substituted in scope: fixed predicates, path steps, VALUES lists
    * over predicate variables, and `label` under a label service.
    * Never throws: a name the dialect cannot resolve is left out, its
    * scan keeps the raw store, and the compile raises its own loud
    * error for it. */
  private def scannedPreds(g: ServiceGraph, bodies: Seq[Body]): Set[String] =
    bodies.flatMap { b =>
      val pats = scopedPatterns(b, t => resolveIn(g, t).getOrElse(t))
      val predVars = pats.collect { case Pattern(_, PVar(v), _) => v }.toSet
      val listed: Map[String, Seq[String]] = groups(b).flatMap(_.values).collect {
        case ValuesBlock(Seq(v), rows) if predVars(v) => v -> rows.flatMap(valuePred(g, _))
      }.toMap
      pats.flatMap(_.p match {
        case Name(n) => predIn(g, n).toSeq
        case PVar(v) => listed.getOrElse(v, Nil)
        case Path(arms) => arms.flatten.flatMap(_.names).flatMap(predIn(g, _))
        case NegSet(_, _) | StatementCount => Nil
      }) ++ (if (labelLangsOf(b).isDefined) Seq("label") else Nil)
    }.toSet

  /** The one store planner: `g`'s store pruned to the predicates
    * `bodies` scan, when they hold at least `minSites` pattern sites
    * (see [[StoreMaterializeSites]]). Lazy — nothing runs until the
    * query's first action. */
  private def plannedStore(g: ServiceGraph, bodies: Seq[Body], minSites: Int): Option[SharedStore] = {
    val preds = scannedPreds(g, bodies)
    if (bodies.map(storeSites).sum >= minSites && preds.nonEmpty)
      Some(SharedStore(preds, g.statements.filter(col("p").isin(preds.toSeq: _*))
        .transform(graft.util.Checkpoints.compact(_, eager = false))))
    else None
  }

  /** A scan of `df` restricted by a pattern's resolved subject `s`: a
    * variable binds the `s` column (appended to `cols`), an entity id
    * filters it, and a literal or alias-free IRI subject is a loud
    * reject. */
  private def bindSubject(s: Term, df: DataFrame,
      cols: scala.collection.mutable.ListBuffer[Column]): DataFrame = s match {
    case V(n)   => cols += col("s").as(n); df
    case Num(v) => df.filter(col("s") === v)
    case Iri(iri) => throw new IllegalArgumentException(
      s"IRI subject <$iri> has no alias in the dialect map")
    case t => throw new IllegalArgumentException(s"literal subject '${litText(t)}' unsupported")
  }

  /** A resolved constant term's text: a literal, an alias-free IRI's
    * bare text, or a predicate constant's name. */
  private def litText(t: Term): String = t match {
    case Lit(v) => v
    case Iri(iri) => iri
    case PredConst(n) => n
    case other => other.toString
  }

  /** The stem `x` of a label-convention variable `?xLabel` or
    * `?xAltLabel`; None for any other variable. */
  private def labelStem(v: String): Option[String] =
    if (v.endsWith("Label") && v.length > "Label".length)
      Some(v.dropRight(if (v.endsWith("AltLabel")) "AltLabel".length else "Label".length))
    else None

  /** A predicate name's store name under `g`'s dialect, or a loud
    * reject. */
  private def storePred(g: ServiceGraph, p: String): String = {
    // the rdf:type shorthand resolves through the dialect map like
    // any prefixed name (`"a" -> <type predicate>`); without a
    // mapping it stays a loud reject, never a match-nothing filter
    predIn(g, p).getOrElse(throw new IllegalArgumentException(
      if (p == "a") "rdf:type shorthand 'a' has no alias in the dialect map — " +
        "map \"a\" to the store's type predicate name"
      else s"prefixed predicate '$p' has no alias in the dialect map"))
  }

  /** A term resolved through `g`'s dialect, or a loud reject for a
    * prefixed entity without an alias. */
  private def resolveTerm(g: ServiceGraph, t: Term): Term =
    resolveIn(g, t).getOrElse(throw new IllegalArgumentException(
      s"prefixed entity '${t match { case Prefixed(n) => n; case _ => t }}' " +
        "has no alias in the dialect map"))

  /** What the typing pass (see the object doc) decides for one query
    * and hands the pattern frames and the label service: the predicate
    * lists of VALUES-restricted predicate variables, each variable's
    * kind ("entity" or "literal"), its pattern-site count, whether
    * anything but its own pattern uses it, the FILTER(LANG) language
    * per variable, and the label service's language list. */
  private final case class Typing(
      predValues: Map[String, Seq[String]],
      kindMap: Map[String, String],
      siteCount: Map[String, Int],
      referenced: Set[String],
      langOf: Map[String, String],
      labelLangs: Option[Seq[String]])

  /** The typing pass over `q` against `graph`'s dialect and typing
    * dictionary; every conflict it finds is a loud reject. */
  private def typing(graph: ServiceGraph, q: Query, autoLang: String): Typing = {
    val entityPreds = graph.entityValued
    def pred(p: String): String = storePred(graph, p)
    def resolve(t: Term): Term = resolveTerm(graph, t)
    // type-conflict check: every binding site of a var must agree —
    // across ALL nesting levels (MINUS groups' shared vars become
    // anti-join keys; SERVICE bodies type against their own graph in
    // their own recursive compile)
    val allPats = scopedPatterns(q.body, resolve)
    // VALUES blocks restricting a PREDICATE variable (the
    // db_all_person_relations.rq idiom: `VALUES ?rel { fgt:P84 … }
    // ?item ?rel ?value`) resolve through predAliases and are consumed
    // by pattern compilation (p-isin pushdown), not the generic filter
    val predVars: Set[String] = allPats.collect { case Pattern(_, PVar(v), _) => v }.toSet
    val predValues: Map[String, Seq[String]] = groups(q.body).flatMap(_.values).collect {
      case ValuesBlock(Seq(v), rows) if predVars(v) =>
        v -> rows.map(r => valuePred(graph, r).getOrElse(throw new IllegalArgumentException(
          r match {
            case Seq(Iri(iri)) => s"predicate <$iri> has no alias in the dialect map"
            case Seq(Prefixed(n)) => s"prefixed predicate '$n' has no alias in the dialect map"
            case _ => s"VALUES over predicate variable ?$v must list predicate names, got ${r.head}"
          })))
    }.toMap
    // subjects across all groups — the graph typing markers ("*"/"~")
    // only fill in for vars with no subject site (a blank statement
    // NODE object is a subject downstream and stays an entity)
    val subjectVars: Set[String] = allPats.map(_.s).collect { case V(n) => n }.toSet
    val varKinds = allPats.flatMap { p0 =>
      val pKind = p0.p match { case PVar(v) => Seq(v -> "predicate"); case _ => Nil }
      val oKind = (p0.o, p0.p) match {
        case (V(n), PVar(pv)) =>
          // object typing of a variable-predicate pattern: determined
          // by the VALUES predicate list when present (all listed
          // predicates must agree), else by the var's OTHER sites
          predValues.get(pv) match {
            case Some(preds) =>
              val kinds = preds.map(pr => if (entityPreds(pr)) "entity" else "literal").distinct
              require(kinds.size == 1,
                s"VALUES over ?$pv mixes entity- and literal-valued predicates")
              Seq(n -> kinds.head)
            // the "*" dialect marker (an all-entity-edges graph — the
            // network-02 wikidata stand-in whose statements are truthy
            // entity claims only): site-free var-pred objects type as
            // entities instead of rejecting. "~" is the literal twin
            // (the compare files' wikidata stand-in carries IRI TEXT
            // values so the is_same comparison is string-vs-string).
            case None if entityPreds("*") && !subjectVars(n) => Seq(n -> "entity")
            case None if entityPreds("~") && !subjectVars(n) => Seq(n -> "literal")
            case None => Nil
          }
        case (V(_), NegSet(_, _)) => Nil // negated set: typing from other sites
        case (V(n), Path(_)) => Seq(n -> "entity")
        // the wikibase:statements META-predicate binds a count — a
        // literal-kind var (it never joins an entity site)
        case (V(n), StatementCount) => Seq(n -> "literal")
        case (V(n), Name(pn)) => Seq(n -> (if (entityPreds(pred(pn))) "entity" else "literal"))
        case _ => Nil
      }
      (p0.s match { case V(n) => Seq(n -> "entity"); case _ => Nil }) ++ pKind ++ oKind
    }
    // a predicate variable binds the predicate NAME (a string), so it
    // may legally join a literal-bound site — the
    // `?prop wikibase:directClaim ?rel . ?item ?rel ?value` triangle
    // (companions_and_relations.rq:46). Only entity-vs-string is a
    // real conflict.
    def normKind(k: String): String = if (k == "predicate") "literal" else k
    varKinds.groupBy(_._1).foreach { case (v, kinds) =>
      val norm = kinds.map(k => normKind(k._2)).distinct
      require(norm.size == 1,
        s"type conflict: ?$v bound as both ${norm.sorted.mkString(" and ")} across patterns")
    }
    // a variable's pattern-site count and non-pattern uses — the
    // "unreferenced object" rule's inputs: an object var of a
    // variable-predicate pattern with NO other site and NO use
    // anywhere (network-01/03's trailing ?item2) binds nothing and
    // keeps every scan row — each statement has exactly one object
    // term, so multiplicity is exact without guessing a type
    val siteCount: Map[String, Int] =
      allPats.flatMap(patVars).groupBy(identity).map { case (k, v) => k -> v.size }
    def filtVars(fs: Seq[Filt]): Seq[String] = fs.collect {
      case FRegex(v, _) => v; case FEq(v, _) => v; case FLang(v, _) => v }
    val uses = groups(q.body).flatMap(b =>
      b.values.flatMap(_.vars) ++ b.iriBinds.map(_._3) ++
        b.exprBinds.flatMap(e => exprDepsOf(e.expr)) ++
        b.ifBinds.flatMap(i => Seq(i.v1, i.v2)) ++
        filtVars(b.filters) ++ b.minuses.flatMap(m => filtVars(m.filters)) ++
        b.services.flatMap(sv => varsOfBody(sv.body)))
    val referenced: Set[String] =
      (q.select ++ q.orderBy ++ q.groupBy ++ q.aggs.map(_.v) ++ uses ++
        q.select.flatMap(labelStem)).toSet

    // label-convention fallback typing: a projected `?xLabel` under a
    // label-service block implies ?x is an ENTITY (Wikibase resolves
    // labels for entities only) — the rule that lets network-00/01's
    // `?item1 ?fgt2 ?item2` type its otherwise site-free ?item2.
    // Site-derived kinds always win; this fills only the gaps.
    val labelLangs = labelLangsOf(q.body)
    val labelStemKinds: Seq[(String, String)] =
      if (labelLangs.isEmpty) Nil
      else q.select.flatMap(labelStem)
        .filterNot(stem => varKinds.exists(_._1 == stem))
        .map(_ -> "entity")
    val kindMap: Map[String, String] =
      (varKinds.groupBy(_._1).map { case (v, ks) => v -> normKind(ks.head._2) }) ++
        labelStemKinds

    // FILTER(LANG(?v) = "…") → a lang-column restriction applied at
    // every statements scan binding ?v as a literal object (see
    // FLang) — collected across nesting levels (a LANG filter inside
    // the group that binds ?v restricts the same scans)
    val flangs = groups(q.body).flatMap(_.filters).collect {
      case FLang(v, l) => v -> (if (l == "[AUTO_LANGUAGE]") autoLang else l)
    }.distinct
    flangs.groupBy(_._1).foreach { case (v, ls) =>
      require(ls.size == 1,
        s"conflicting FILTER(LANG(?$v)) restrictions: ${ls.map(_._2).mkString(", ")}")
    }
    val langOf: Map[String, String] = flangs.toMap
    langOf.keys.foreach { v =>
      require(kindMap.get(v).contains("literal"),
        s"FILTER(LANG(?$v)) needs ?$v bound as a literal object by a pattern")
    }
    Typing(predValues, kindMap, siteCount, referenced, langOf, labelLangs)
  }

  /** SERVICE wikibase:label and the label-variable checks over the
    * compiled solutions `acc0`; `labelStore` is the frame the label scan
    * reads. */
  private def labelService(acc0: DataFrame, q: Query, graph: ServiceGraph, typed: Typing,
      autoLang: String, labelStore: DataFrame): DataFrame = {
    import typed._
    var acc = acc0
    // SERVICE wikibase:label — synthesize each projected `?xLabel`
    // whose stem ?x is entity-bound: rank the label set by language
    // preference ([AUTO_LANGUAGE] resolves to `autoLang`), take the
    // top label per entity (one window — the kg_label_lang shape),
    // left-join, and fall back to the entity id rendered as a string
    // (Wikibase shows "Q123" when no label exists in the chain). The
    // block is honored wherever it appears in the tree (the reference
    // files put it first inside WHERE; WDQS treats it globally).
    // BIND-constant stems (net0's seeded ?root) fold to literals — an
    // equi-key on a folded constant degenerates to a nested loop over
    // the whole label frame. Those stems fetch their label as a 1-ROW
    // aggregate broadcast instead (filter pushes under the window via
    // its partition key; the build side is exactly one row).
    val rootBindConsts: Map[String, Long] = q.body.binds.toSeq.collect {
      case (v, t) => (v, resolveTerm(graph, t)) }.collect { case (v, Num(x)) => v -> x }.toMap
    labelLangs.foreach { langs0 =>
      val langs = langs0.map(l => if (l == "[AUTO_LANGUAGE]") autoLang else l).distinct
      // ORDER-BY-only label vars whose stem is nowhere bound are the
      // reference's own typos (`ORDER BY (?PropertyLabel)`,
      // get_all_properties_person…rq) — endpoint sorts by unbound =
      // no-op, so they are excluded here and null below
      val want = (q.select ++ q.orderBy.filter(v =>
          q.select.contains(v) || labelStem(v).exists(kindMap.contains))).distinct
        .flatMap(v => labelStem(v).map(v -> _))
      // the language-ranked best-label relation, built ONCE per query:
      // Catalyst does not CSE a sub-plan referenced from several join
      // branches (the kg_describe lesson), so a query with N label
      // vars would otherwise run the ranking window N times —
      // checkpoint it when more than one join will read it (net1's
      // five label vars: 5 windows → 1). At scale this is the
      // precomputed co-bucketed label layout (Scale.writeBucketed).
      lazy val bestAll: DataFrame = {
        val rank = langs.zipWithIndex.foldLeft(lit(langs.size): Column) {
          case (e, (l, i)) => when(col("lang") === l, i).otherwise(e)
        }
        val w = Window.partitionBy(col("s")).orderBy(rank, col("lang"))
        val b = labelStore.filter(col("p") === "label" && col("lang").isin(langs: _*))
          .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
          .select(col("s").as("_lbl_s"), col("o_val").as("_lbl_v"))
        if (want.count { case (v, _) => !v.endsWith("AltLabel") } > 1)
          graft.util.Checkpoints.compact(b, eager = false) else b
      }
      want.foreach { case (lv, stem) =>
        val alt = lv.endsWith("AltLabel")
        // a label var some UNION branch already bound (the remote
        // rdfs:label idiom, companions branches 3-5) is GAP-FILLED:
        // the synthesized label applies only where the branch left it
        // null — the endpoint behavior (the label service fills
        // unbound vars, never overrides bound ones)
        val lvBound = acc.columns.contains(lv)
        val stemEntity = acc.columns.contains(stem) &&
          acc.schema(stem).dataType.typeName == "long"
        if (!stemEntity && lvBound) {
          // branch-bound only (e.g. the stem is an IRI string) — keep
        } else {
          require(acc.columns.contains(stem),
            s"label-service variable ?$lv needs ?$stem bound by the pattern")
          require(stemEntity,
            s"?$stem is literal-typed — the label service resolves entities")
          if (alt) {
            // ?xAltLabel — this store carries no alias relation, so the
            // alias column is unbound (null), the Wikibase behavior for
            // an entity without aliases
            if (!lvBound) acc = acc.withColumn(lv, lit(null).cast("string"))
          } else {
            val key = s"_lbl_key_$stem"
            val pre = s"_lbl_pre_$lv"
            if (lvBound) acc = acc.withColumnRenamed(lv, pre)
            val best = bestAll.select(col("_lbl_s").as(key), col("_lbl_v").as(lv))
            acc = rootBindConsts.get(stem) match {
              case Some(id) =>
                val one = best.filter(col(key) === id).agg(min(col(lv)).as(lv))
                acc.crossJoin(broadcast(one))
              case None =>
                acc.join(best, col(stem) === col(key), "left_outer").drop(key)
            }
            acc =
              if (lvBound)
                acc.withColumn(lv, coalesce(col(pre), col(lv), col(stem).cast("string")))
                  .drop(pre)
              else acc.withColumn(lv, coalesce(col(lv), col(stem).cast("string")))
          }
        }
      }
    }
    // PROJECTED label vars stay strict (a typo'd select var must not
    // silently go null); an ORDER-BY-only label var whose stem is
    // also unbound is the reference's own typo
    // (get_all_properties_person…rq's `ORDER BY (?PropertyLabel)`) —
    // endpoint behavior is sort-by-unbound = no-op, so it nulls below
    q.select.filter(v => v.endsWith("Label") && !acc.columns.contains(v))
      .foreach(v => throw new IllegalArgumentException(
        s"?$v is unbound — label-convention variables need a SERVICE wikibase:label block"))
    acc
  }

  /** The solution modifiers: unbound projected variables as NULL
    * columns, the projection or GROUP BY aggregates, DISTINCT, ORDER BY,
    * OFFSET and LIMIT. */
  private def modifiers(acc0: DataFrame, q: Query): DataFrame = {
    var acc = acc0
    // SPARQL allows projecting (and ordering by) an UNBOUND variable —
    // a null column (lokale-from-factgrid.rq projects ?Notiz whose
    // binding OPTIONAL is commented out, and ?fg_itemDescription has
    // no description relation in this store). ?xLabel vars stay
    // strict: unbound there means a missing SERVICE block, rejected
    // above — so a typo'd label var cannot silently go null.
    (q.select ++ q.orderBy).distinct.filterNot(acc.columns.contains)
      .foreach(v => acc = acc.withColumn(v, lit(null).cast("string")))
    if (q.aggs.nonEmpty) {
      val aggCols = q.aggs.map { a =>
        val c = col(a.v)
        (a.func match {
          case "count"          => if (a.distinct) count_distinct(c) else count(c)
          // SAMPLE must be deterministic under the hash gate: min is
          // the kg_sample_distinct convention
          case "sample" | "min" => min(c)
          case "max"            => max(c)
          case "group_concat"   =>
            // sorted concat = parallelism-independent (kg_group_concat)
            val arr = if (a.distinct) collect_set(c) else collect_list(c)
            array_join(array_sort(arr), a.sep.getOrElse(" "))
          case other => throw new IllegalArgumentException(s"unsupported aggregate: $other")
        }).as(a.alias)
      }
      acc = acc.groupBy(q.groupBy.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .select((q.select ++ q.aggs.map(_.alias)).map(col): _*)
    } else acc = acc.select(q.select.map(col): _*)
    if (q.distinct) acc = acc.distinct()
    if (q.orderKeys.nonEmpty)
      acc = acc.orderBy(q.orderKeys.map { case (v, desc) =>
        if (desc) col(v).desc else col(v).asc }: _*)
    q.offset.foreach(n => acc = acc.offset(n)) // SPARQL: OFFSET before LIMIT
    q.limit.foreach(n => acc = acc.limit(n))
    acc
  }

  /** Compile `q`'s solutions against `graph` — a statements frame
    * `(s, p, o_id, o_val, lang)` with its dialect maps and typing
    * dictionary (`entityValued`: which predicates bind `o_id`). Fixed-
    * predicate scans of `store`'s predicates read `store`; a SERVICE
    * sub-compile gets its endpoint's entry of `svcStores`. */
  private def compileOn(spark: SparkSession, graph: ServiceGraph, q: Query,
      autoLang: String, graphs: Map[String, ServiceGraph],
      store: Option[SharedStore], svcStores: Map[String, SharedStore]): DataFrame = {
    val st = graph.statements
    val entityPreds = graph.entityValued
    // Per-compile monotonic id for existence-marker columns: two
    // all-constant patterns must get DISTINCT marker names (a hash of
    // the pattern could collide — and math.abs(Int.MinValue) is
    // negative), or the product join hits an ambiguous column.
    val existenceMarker = new java.util.concurrent.atomic.AtomicInteger(0)

    def pred(p: String): String = storePred(graph, p)
    def resolve(t: Term): Term = resolveTerm(graph, t)

    // BIND(const AS ?var) seeds substitute the constant into every
    // pattern position of the var IN SCOPE (the seed-item idiom of
    // the reference's network-* queries); a bind at a nested level
    // scopes to its own subtree
    def resolveBinds(b: Body, inherited: Map[String, Term]): Map[String, Term] =
      inherited ++ b.binds.map { case (v, t) => v -> resolve(t) }

    val typed = typing(graph, q, autoLang)
    import typed._

    def langFilter(df: DataFrame, v: String): DataFrame =
      langOf.get(v).map(l => df.filter(col("lang") === l)).getOrElse(df)

    /** The frame a fixed-predicate scan of `p` filters: the pruned
      * store when it holds `p` (see [[StoreMaterializeSites]]), else
      * the raw store — a predicate the planner missed only costs the
      * pruning, never a result. */
    def storeFor(p: String): DataFrame = store.filter(_.preds(p)).fold(st)(_.pruned)

    /** A sequence-path pattern compiled to the step+closure plans:
      * non-star steps are equi-joins (BGP expansion — bag semantics,
      * per the SPARQL fixed-length-path rule), a starred step is the
      * semi-naive fixpoint seeded by the accumulated pairs (zero
      * steps included — set semantics, also per spec), a `?` step is
      * the identity-or-one-step union (set semantics, per
      * ZeroOrOnePath). A constant subject is pushed into the FIRST
      * step's scan — or, for a closure-first/`?`-first path, into the
      * identity seed — before any closure work. A VARIABLE-subject
      * closure-first path seeds the closure with the identity over
      * ALL graph nodes (SPARQL's ZeroOrMorePath over open ends: every
      * term in the graph reaches itself in zero steps) — node-set
      * sized, one distinct over two statement projections, then the
      * same bounded kg_property_path fixpoint. */
    def pathFrame(p0: Pattern, armSeqs: Seq[Seq[PathStep]]): DataFrame = {
      val subjConst: Option[Long] = resolve(p0.s) match {
        case Num(v) => Some(v)
        case V(_)   => None
        case t => throw new IllegalArgumentException(s"literal subject '${litText(t)}' unsupported")
      }
      // a step's relation: plain (optionally inverse) predicate scans
      // bag-unioned with any nested SUB-PATH arms' (a, b) relations —
      // nested arms compile with NO subject constant (the constant
      // seeds only the OUTER path's first step)
      def edgesOf(stp: PathStep): DataFrame = {
        val arms = stp.alts.map { case (name, inv) =>
          val pr = pred(name)
          require(entityPreds(pr),
            s"path step '$name' is not entity-valued — paths traverse entity edges")
          val e = storeFor(pr).filter(col("p") === pr)
          // an inverse arm (^p) traverses the edge object→subject
          if (inv) e.select(col("o_id").as("a"), col("s").as("b"))
          else e.select(col("s").as("a"), col("o_id").as("b"))
        }
        (arms ++ stp.subs.map(sub => compileSeq(sub, None))).reduce(_ unionAll _)
      }
      def advance(acc0: DataFrame, e: DataFrame): DataFrame =
        acc0.join(
            e.withColumnRenamed("a", "_mid").withColumnRenamed("b", "_b2"),
            col("b") === col("_mid"))
          .select(col("a"), col("_b2").as("b"))
      // zero-step pairs for a closure-first/`?`-first step: the
      // constant subject reaches itself, or — variable subject — every
      // graph node does (node-set sized, never edge-pair sized)
      def identityPairs(sc: Option[Long]): DataFrame = sc match {
        case Some(v) =>
          st.sparkSession.range(1).select(lit(v).as("a"), lit(v).as("b"))
        case None =>
          st.select(col("s").as("n"))
            .unionAll(st.filter(col("o_id").isNotNull).select(col("o_id").as("n")))
            .distinct()
            .select(col("n").as("a"), col("n").as("b"))
      }
      // ZeroOrOnePath is the SET identity ∪ distinct(edges); self-loop
      // edges coincide with identity, so R = identity ∪ distinct
      // non-self-loop edges — and composing a bag with R preserves the
      // bag's multiplicity (acc⋈R = acc ∪ advance(acc, R∖identity))
      def zeroOrOne(e: DataFrame): DataFrame =
        e.distinct().filter(col("a") =!= col("b"))
      // one SEQUENCE arm compiled to its (a, b) pair frame; top-level
      // alternation ([[arms]]) is the bag union of the arms.
      // `sc` = the subject constant, Some only for the OUTER path
      // (nested sub-path arms pass None — their subjects are interior)
      def compileSeq(steps: Seq[PathStep], sc: Option[Long]): DataFrame = {
        // first step: one mandatory traversal (also `+`'s "one") — or,
        // for `*`/`?`, the zero-step identity union
        val headEdges = {
          val e = edgesOf(steps.head)
          sc.fold(e)(v => e.filter(col("a") === v))
        }
        // Closure-FIRST with a variable subject: when a PLAIN step
        // follows (p*/q), only closure rows landing on q's subjects feed
        // the join — so run the closure REVERSED, seeded by the identity
        // over q's (usually small) subject set, and flip: a →p*→ x ⟺
        // x →(^p)*→ a. Same set, frontier bounded by |subjects(q)|
        // instead of the node census (measured: the star_first gated
        // branch 5.0 s → 0.6 s warm at sf0.1). The census-identity seed
        // remains the general fallback (bare `?a p* ?b`).
        def starHead(): DataFrame = sc match {
          case Some(_) =>
            TripleStore.fixpoint(edgesOf(steps.head), seed = Some(identityPairs(sc)))
          case None if steps.tail.headOption.exists(s2 => !s2.star && !s2.plus && !s2.opt) =>
            val nextSubj = edgesOf(steps.tail.head).select(col("a")).distinct()
            val rev = edgesOf(steps.head).select(col("b").as("a"), col("a").as("b"))
            TripleStore.fixpoint(rev,
                seed = Some(nextSubj.select(col("a"), col("a").as("b"))))
              .select(col("b").as("a"), col("a").as("b"))
          case None =>
            TripleStore.fixpoint(edgesOf(steps.head), seed = Some(identityPairs(sc)))
        }
        var tail = steps.tail
        var acc =
          if (steps.head.star) starHead()
          else if (steps.head.opt) (sc, tail.headOption) match {
            // p?/q with a VARIABLE subject and a plain next step: the
            // zero-step identity over the full node census is only ever
            // joined into q — fuse: (identity ∪ p≤1) ⋈ q = q ∪ (p≤1 ⋈ q)
            // (identity holds each node exactly once, so its join
            // contributes q verbatim with q's own bag multiplicity).
            // The census distinct over two full-store projections never
            // materializes — the kg_sparql_path_opt `opt` branch's
            // single biggest stage (guide §2.4).
            case (None, Some(s2)) if !s2.star && !s2.plus && !s2.opt =>
              val e2 = edgesOf(s2)
              tail = tail.tail // s2 is consumed by the fuse
              e2.unionAll(advance(zeroOrOne(headEdges), e2))
            case _ => identityPairs(sc).unionAll(zeroOrOne(headEdges))
          }
          else if (steps.head.plus) TripleStore.fixpoint(edgesOf(steps.head), seed = Some(headEdges))
          else headEdges
        tail.foreach { stp =>
          val e = edgesOf(stp)
          acc =
            if (stp.star) TripleStore.fixpoint(e, seed = Some(acc))
            // p+ = p/p*: one mandatory step, then the closure over the
            // reached frontier (excludes the zero-step pairs * keeps)
            else if (stp.plus) TripleStore.fixpoint(e, seed = Some(advance(acc, e)))
            // p? = identity-or-one-step: acc ⋈ (identity ∪ distinct
            // edges) = acc ∪ advance(acc, distinct non-self-loop edges)
            // — acc's bag multiplicity preserved, per ZeroOrOnePath
            else if (stp.opt) acc.unionAll(advance(acc, zeroOrOne(e)))
            else advance(acc, e)
        }
        acc
      }
      var acc = armSeqs.map(compileSeq(_, subjConst)).reduce(_ unionAll _)
      val cols = scala.collection.mutable.ListBuffer[Column]()
      p0.s match { case V(n) => cols += col("a").as(n); case _ => }
      resolve(p0.o) match {
        case V(n)   => cols += col("b").as(n)
        case Num(v) => acc = acc.filter(col("b") === v)
        case t => throw new IllegalArgumentException(s"literal path object '${litText(t)}' unsupported")
      }
      require(cols.nonEmpty, s"path pattern binds no variables: $p0")
      acc.select(cols.toSeq: _*)
    }

    /** A variable-predicate pattern (`?s ?p ?o` — the companions
      * "all relations" shape): an unpruned statements scan (that IS
      * the query's semantics) unless a VALUES block over the
      * predicate var restricts it to a p-isin pushdown. The predicate
      * var binds the predicate NAME (string); the object var's typing
      * comes from the VALUES list or the var's other binding sites —
      * a site-free object is ambiguous and rejected loudly. */
    def varPredFrame(p0: Pattern, pv: String): DataFrame = {
      // VALUES-restricted predicate vars scan the pruned store when
      // every listed predicate is materialized there (they are — the
      // collection includes VALUES lists); unrestricted scans keep the
      // raw store, that IS their semantics
      var df = store.filter(s => predValues.get(pv).exists(_.forall(s.preds)))
        .fold(st)(_.pruned)
      predValues.get(pv).foreach(preds => df = df.filter(col("p").isin(preds: _*)))
      val cols = scala.collection.mutable.ListBuffer[Column]()
      df = bindSubject(resolve(p0.s), df, cols)
      cols += col("p").as(pv)
      resolve(p0.o) match {
        case V(n) => kindMap.get(n) match {
          case Some("entity")  => df = df.filter(col("o_id").isNotNull); cols += col("o_id").as(n)
          case Some("literal") =>
            df = langFilter(df.filter(col("o_val").isNotNull), n); cols += col("o_val").as(n)
          // site-free AND use-free object (network-01/03's trailing
          // ?item2): bind nothing, keep every row — exact multiplicity
          case _ if siteCount.getOrElse(n, 0) <= 1 && !referenced(n) => ()
          case _ => throw new IllegalArgumentException(
            s"object ?$n of variable-predicate pattern is type-ambiguous — " +
              s"bind ?$n in another pattern or restrict ?$pv with a VALUES block")
        }
        case Num(v) => df = df.filter(col("o_id") === v)  // entity constant
        case t => df = df.filter(col("o_val") === litText(t))
      }
      df.select(cols.toSeq: _*)
    }

    /** Negated property set `!(p|q)` / `!p` / `!(p|^q)` (SPARQL 1.1
      * PathNegatedPropertySet, both directions): forward arms match
      * any statement whose predicate is NOT in the forward subset;
      * INVERSE arms (`^q`) traverse statements BACKWARDS — (x,y)
      * matches when some y→x edge carries a predicate outside the
      * inverse subset. A direction with no arms in the set is not
      * traversed at all (per spec: `!p` never yields reverse edges).
      * Reversed edges bind entity⇄entity only (a literal is never a
      * subject), so a literal-typed object var naturally gets no
      * inverse rows. The predicate is anonymous (binds nothing);
      * object typing follows the varPredFrame rule — from the var's
      * OTHER binding sites, a site-free object rejects loudly. */
    def negSetFrame(p0: Pattern, fwdNames: Seq[String], invNames: Seq[String]): DataFrame = {
      val invArms = invNames.map(pred)
      val fwdExcluded = fwdNames.map(pred)
      val fwd =
        if (fwdNames.isEmpty && invArms.nonEmpty) None
        else Some(st.filter(!col("p").isin(fwdExcluded: _*))
          .select(col("s"), col("o_id"), col("o_val")))
      val inv =
        if (invArms.isEmpty) None
        else Some(st.filter(col("o_id").isNotNull && !col("p").isin(invArms: _*))
          .select(col("o_id").as("s"), col("s").as("o_id"),
            lit(null).cast("string").as("o_val")))
      var df = (fwd.toSeq ++ inv.toSeq).reduce(_ unionAll _)
      val cols = scala.collection.mutable.ListBuffer[Column]()
      df = bindSubject(resolve(p0.s), df, cols)
      resolve(p0.o) match {
        case V(n) => kindMap.get(n) match {
          case Some("entity")  => df = df.filter(col("o_id").isNotNull); cols += col("o_id").as(n)
          case Some("literal") => df = df.filter(col("o_val").isNotNull); cols += col("o_val").as(n)
          case _ if siteCount.getOrElse(n, 0) <= 1 && !referenced(n) => ()
          case _ => throw new IllegalArgumentException(
            s"object ?$n of negated-property-set pattern is type-ambiguous — " +
              s"bind ?$n in another pattern")
        }
        case Num(v) => df = df.filter(col("o_id") === v)
        case t => df = df.filter(col("o_val") === litText(t))
      }
      require(cols.nonEmpty, s"pattern binds no variables: $p0")
      df.select(cols.toSeq: _*)
    }

    def frame(p0: Pattern): DataFrame = p0.p match {
      case NegSet(fwd, inv) => negSetFrame(p0, fwd, inv)
      case Path(arms) => pathFrame(p0, arms)
      case PVar(v) => varPredFrame(p0, v)
      // Wikibase META-predicate `?item wikibase:statements ?count` —
      // WDQS's per-item statement-count virtual triple (the construct
      // behind the reference's analyse-number-of-items.R inline
      // query). Compiles to ONE map-side-partial groupBy(s) census
      // over the statement store, joined into the BGP on the item var
      // — entity-count-sized, the kg_degree shuffle class.
      case StatementCount =>
        val (iv, cv) = (resolve(p0.s), resolve(p0.o)) match {
          case (V(a), V(b)) => (a, b)
          case _ => throw new IllegalArgumentException(
            "wikibase:statements needs a variable subject and object " +
              "(?item wikibase:statements ?count)")
        }
        st.groupBy(col("s")).agg(count(lit(1)).as(cv)).select(col("s").as(iv), col(cv))
      case Name(n) => nameFrame(resolve(p0.s), pred(n), resolve(p0.o))
    }

    /** A fixed-predicate pattern `s p o` over the resolved terms. */
    def nameFrame(s: Term, p: String, o: Term): DataFrame = {
      var df = storeFor(p).filter(col("p") === p)
      val cols = scala.collection.mutable.ListBuffer[Column]()
      df = bindSubject(s, df, cols)
      o match {
        case V(n) if entityPreds(p) =>
          df = df.filter(col("o_id").isNotNull); cols += col("o_id").as(n)
        case V(n)   =>
          df = langFilter(df.filter(col("o_val").isNotNull), n); cols += col("o_val").as(n)
        // constants follow the SAME schema-driven typing as variables:
        // a numeric object on a literal-valued predicate compares the
        // literal column (o_id is NULL there — comparing it would
        // silently match nothing)
        case Num(v) if entityPreds(p) => df = df.filter(col("o_id") === v)
        case Num(v) => df = df.filter(col("o_val") === v.toString)
        // an alias-free IRI on a literal-valued predicate compares its
        // bare text (`?link schema:isPartOf <https://www.wikidata.org/>`)
        case Iri(iri) if entityPreds(p) => throw new IllegalArgumentException(
          s"IRI <$iri> sits in an entity position (predicate '$p') " +
            "but has no alias in the dialect map")
        case t if entityPreds(p) => throw new IllegalArgumentException(
          s"string literal '${litText(t)}' on entity-valued predicate '$p' would match " +
            "nothing — use an entity alias")
        case t => df = df.filter(col("o_val") === litText(t))
      }
      // an ALL-CONSTANT pattern (a BIND-seeded root meeting a constant
      // class edge — time-items.rq's `?fg_item fgt:P131 fg:Q400012`
      // after substitution) is an existence check: a 1-row marker
      // frame that product-joins in (and empties the result when the
      // triple is absent)
      if (cols.isEmpty)
        df.limit(1).select(lit(true).as(s"_ex_${existenceMarker.getAndIncrement()}"))
      else df.select(cols.toSeq: _*)
    }

    def joinKeys(a: DataFrame, b: DataFrame): Seq[String] =
      a.columns.toSeq.intersect(b.columns.toSeq)
    /** Inner-join a pattern group into one frame (a BGP). SPARQL BGPs
      * are unordered, so connectivity is resolved to a FIXPOINT: each
      * round joins any pattern sharing a variable (column — predicate
      * vars count) with the accumulator, in textual order among the
      * eligible — a BGP whose connecting pattern appears last still
      * compiles. A BGP may be MORE than one connected component
      * (network-03-federated.rq: the sitelink block and the hop chain
      * share only the substituted root CONSTANT) — that is a
      * SPARQL-legal product, compiled as a broadcast product but ONLY
      * when every component beyond the first is constant-seeded
      * (carries a constant term, so it is a filtered lookup, not a
      * full scan); an unseeded disconnected component stays a loud
      * reject, never a silent cartesian blow-up. */
    def bgp(pats: Seq[Pattern]): DataFrame = {
      // a constant subject or object seeds (filters) its component; a
      // constant PREDICATE alone does not (that's a whole-predicate scan)
      def seededBy(p: Pattern): Boolean =
        Seq(p.s, p.o).exists { case V(_) => false; case _ => true }
      val remaining = scala.collection.mutable.ListBuffer(
        pats.map(p => (p, frame(p))): _*)
      val comps = scala.collection.mutable.ListBuffer[(DataFrame, Boolean, Pattern)]()
      while (remaining.nonEmpty) {
        val (p0, f0) = remaining.remove(0)
        var acc = f0
        var seeded = seededBy(p0)
        var idx = remaining.indexWhere { case (_, f) => joinKeys(acc, f).nonEmpty }
        while (idx >= 0) {
          val (pp, f) = remaining.remove(idx)
          seeded ||= seededBy(pp)
          acc = acc.join(f, joinKeys(acc, f))
          idx = remaining.indexWhere { case (_, f) => joinKeys(acc, f).nonEmpty }
        }
        comps += ((acc, seeded, p0))
      }
      comps.tail.foldLeft(comps.head._1) { case (acc, (f, seeded, p0)) =>
        require(seeded,
          s"pattern(s) not connected to the rest of the BGP and not constant-seeded " +
            s"(a product here could be a full cartesian blow-up): $p0")
        acc.crossJoin(broadcast(f))
      }
    }

    /** Join a SERVICE block into `acc0` against its registered graph.
      * The body compiles RECURSIVELY through [[compileOn]] on the
      * remote statements frame (its own dialect, typing dictionary,
      * label service, nested groups); outer constant binds inject
      * into the remote scans. A body with a required part joins once
      * (inner — or left under `OPTIONAL { SERVICE … }`); an
      * all-OPTIONAL body left-joins each group per outer row — the
      * bindings-injected endpoint behavior (see [[ServiceBlock]]). */
    def serviceJoin(sv: ServiceBlock, acc0: DataFrame, binds: Map[String, Term],
        forceLeft: Boolean): DataFrame = {
      var acc = acc0
      require(acc != null, s"SERVICE <${sv.endpoint}> block needs a preceding pattern")
      val remote = graphs.getOrElse(sv.endpoint, throw new IllegalArgumentException(
        s"SERVICE endpoint <${sv.endpoint}> is not registered — pass a ServiceGraph " +
          s"for it (registered: ${if (graphs.isEmpty) "none" else graphs.keys.map(e => s"<$e>").mkString(", ")})"))
      def compileSub(b: Body): DataFrame = {
        // varsOfBody runs on the body BEFORE the inherited-bind merge,
        // so the sub-select carries the body's OWN binds (branch tags)
        // but not the outer substitution seeds
        val vars = varsOfBody(b)
        require(vars.nonEmpty, s"SERVICE <${sv.endpoint}> pattern group binds no variables")
        val subQ = Query(select = vars, aggs = Nil, distinct = false,
          body = b.copy(binds = binds ++ b.binds),
          groupBy = Nil, orderKeys = Nil, limit = None)
        compileOn(spark, remote, subQ, autoLang, graphs, svcStores.get(sv.endpoint), svcStores)
      }
      /** Map an outer IRI-string column to this graph's entity id
        * under the declared scheme: strip `prefix` + "Q", parse the
        * digits, add the namespace base. A non-matching string maps
        * to null (joins nothing — the endpoint behavior for an IRI
        * outside the graph). */
      def iriToId(c: Column): Column = remote.iriScheme match {
        case Some((prefix, ns)) =>
          when(c.startsWith(prefix + "Q"),
            substring(c, prefix.length + 2, 20).cast("long") + ns)
        case None => lit(null).cast("long")
      }
      def joinIn(f0: DataFrame, how: String): Unit = {
        val keys = joinKeys(acc, f0)
        require(keys.nonEmpty,
          s"SERVICE <${sv.endpoint}> block shares no variable with the outer pattern")
        val (mapped, aligned) = keys.partition { k =>
          acc.schema(k).dataType.typeName == "string" &&
            f0.schema(k).dataType.typeName == "long" && remote.iriScheme.isDefined
        }
        aligned.foreach { k =>
          require(acc.schema(k).dataType == f0.schema(k).dataType,
            s"cross-graph join key ?$k is ${acc.schema(k).dataType.typeName} in the outer " +
              s"graph but ${f0.schema(k).dataType.typeName} in SERVICE <${sv.endpoint}> — " +
              "single-engine federation joins on a SHARED entity id space (see " +
              "ServiceGraph); an IRI-string round trip compiles only under a declared " +
              "iriScheme")
        }
        if (mapped.isEmpty) acc = acc.join(f0, keys, how)
        else {
          // condition join: mapped keys compare through the scheme;
          // the remote copies of all keys drop afterwards (aligned
          // copies equal the outer's on match and null off-match)
          val f = mapped.foldLeft(f0)((d, k) => d.withColumnRenamed(k, s"_svc_$k"))
          val cond = (mapped.map(k => iriToId(acc(k)) === f(s"_svc_$k")) ++
            aligned.map(k => acc(k) === f(k))).reduce(_ && _)
          val dropCols = mapped.map(k => s"_svc_$k") ++ aligned
          var joined = acc.join(f, cond, how)
          // aligned keys exist on both sides under the same name —
          // drop the remote copy by reference, keep the outer's
          aligned.foreach(k => joined = joined.drop(f(k)))
          mapped.foreach(k => joined = joined.drop(col(s"_svc_$k")))
          acc = joined
        }
      }
      val sb = sv.body
      require(sb.patterns.nonEmpty || sb.unions.nonEmpty || sb.filters.isEmpty,
        s"FILTER in an all-OPTIONAL SERVICE <${sv.endpoint}> body is unsupported")
      if (sb.patterns.nonEmpty || sb.unions.nonEmpty)
        joinIn(compileSub(sb), if (forceLeft) "left_outer" else "inner")
      else {
        require(sb.optionals.nonEmpty, s"empty SERVICE <${sv.endpoint}> body")
        sb.optionals.foreach { grp =>
          val gb = grp.copy(labelLangs = grp.labelLangs.orElse(sb.labelLangs))
          require(gb.patterns.nonEmpty || gb.unions.nonEmpty,
            s"OPTIONAL group inside SERVICE <${sv.endpoint}> binds no required pattern")
          joinIn(compileSub(gb), "left_outer")
        }
      }
      acc
    }

    def exprCol(e: SExpr): Column = e match {
      case SLit(x) => lit(x)
      case SStr(v) => col(v).cast("string")
      // SPARQL REPLACE is regex-based and replaces every occurrence —
      // so is Spark's regexp_replace (DuckDB needs the 'g' flag)
      case SReplace(v, p, r) => regexp_replace(col(v).cast("string"), p, r)
      case SConcat(ps) => concat(ps.map(exprCol): _*)
    }

    /** Compile one [[Body]] level into/onto `acc0` (null at the root
      * before any pattern lands). Everything a level contains folds
      * into the accumulator in the order the flat compiler used:
      * required BGP, UNION chains, OPTIONAL groups, IRI binds, ready
      * expression binds, SERVICE blocks, MINUS groups, VALUES,
      * FILTERs, IF binds, deferred expression binds — then this
      * level's constant binds surface as columns (a per-branch
      * `BIND("factgrid" AS ?source)` tags only its branch; other
      * branches null-pad in the union). */
    def compileBody(b: Body, acc0: DataFrame, inh: Map[String, Term],
        productOk: Boolean = false): DataFrame = {
      val binds = resolveBinds(b, inh)
      def sub(p: Pattern): Pattern = substWith(p, binds)
      var acc = acc0
      def joinRequired(f: DataFrame, what: String): Unit = {
        if (acc == null) acc = f
        else {
          val keys = joinKeys(acc, f)
          if (keys.isEmpty && productOk)
            // a UNION branch sharing no variable with the outer
            // solutions is a SPARQL-legal product (companions' root is
            // one seed-bound sitelink row; each branch multiplies it).
            // The outer side is query-seeded, so broadcast it — pins
            // the plan to BroadcastNestedLoopJoin, never a shuffled
            // CartesianProduct
            acc = broadcast(acc).crossJoin(f)
          else {
            require(keys.nonEmpty, s"$what not connected to the rest of the BGP")
            acc = acc.join(f, keys)
          }
        }
      }
      // BIND(IRI(CONCAT(STR(p:), ?v)) AS ?x) applies as soon as its
      // source is bound — BEFORE the UNION chains when the source
      // comes from the required BGP (companions' branches read the
      // root-level ?wd_item), later when it comes from an OPTIONAL or
      // SERVICE
      val pendingIri = scala.collection.mutable.ListBuffer(b.iriBinds: _*)
      def applyIriBinds(): Unit = if (acc != null) {
        val ready = pendingIri.filter { case (_, _, sv) => acc.columns.contains(sv) }
        ready.foreach { case (nv, iri, sv) =>
          acc = acc.withColumn(nv, concat(lit(iri), col(sv).cast("string")))
        }
        pendingIri --= ready
      }
      if (b.patterns.nonEmpty) joinRequired(bgp(b.patterns.map(sub)), "pattern group")
      applyIriBinds()
      b.unions.foreach { branches =>
        // plain-BGP branches binding the SAME variables keep the
        // union-then-join-once plan (the accumulator's sub-plan is
        // evaluated once); richer branches compile per branch against
        // the accumulator — checkpointed first, because Catalyst does
        // not CSE a sub-plan fanned out under several join branches —
        // and the branch results union BY NAME with null padding
        // (SPARQL UNION does not require aligned variables).
        val simpleFrames =
          if (branches.forall(bb => bb.copy(patterns = Nil) == Body()))
            Some(branches.map(bb => bgp(bb.patterns.map(sub))))
          else None
        val sameCols = simpleFrames.exists { fs =>
          val c0 = fs.head.columns.toSeq.sorted
          fs.tail.forall(_.columns.toSeq.sorted == c0)
        }
        if (sameCols) {
          val fs = simpleFrames.get
          val cols0 = fs.head.columns.toSeq.sorted
          joinRequired(fs.map(_.select(cols0.map(col): _*)).reduce(_ union _), "UNION block")
        } else {
          val base = if (acc != null && branches.size > 1)
            graft.util.Checkpoints.compact(acc, eager = false) else acc
          val frames = branches.map { bb =>
            val f = compileBody(bb, base, binds, productOk = true)
            require(f != null, "empty UNION branch")
            f
          }
          acc = frames.reduce(_.unionByName(_, allowMissingColumns = true))
        }
      }
      applyIriBinds()
      b.optionals.foreach { ob =>
        if (ob.patterns.isEmpty && ob.unions.isEmpty && ob.services.nonEmpty) {
          // OPTIONAL { SERVICE <ep> {…} } — bindings-injected per-row
          // left join (the companions/test wikidata-branch shape)
          require(acc != null, "OPTIONAL SERVICE group needs a preceding pattern")
          require(ob.copy(services = Nil, labelLangs = None) == Body(),
            "unsupported constructs beside SERVICE inside an OPTIONAL group")
          ob.services.foreach { sv => acc = serviceJoin(sv, acc, binds, forceLeft = true) }
        } else {
          require(ob.patterns.nonEmpty || ob.unions.nonEmpty,
            "OPTIONAL group with no required pattern is unsupported " +
              "(only OPTIONAL { SERVICE … } and empty groups)")
          val f = compileBody(ob, null, binds)
          require(acc != null, "OPTIONAL group needs a preceding pattern")
          val keys = joinKeys(acc, f)
          if (keys.isEmpty && productOk)
            // LeftJoin with no shared vars = product that keeps the
            // outer row when the group is empty (companions branch 2);
            // broadcast the group side (left-outer builds right)
            acc = acc.join(broadcast(f), lit(true), "left_outer")
          else {
            require(keys.nonEmpty, s"OPTIONAL group not connected: ${ob.patterns}")
            acc = acc.join(f, keys, "left_outer")
          }
        }
      }
      applyIriBinds()
      // expression BINDs apply as soon as their inputs are bound —
      // before the SERVICE joins for those feeding a remote pattern
      // (get_factgrid_ids_from_wikidata.rq), after them for those
      // reading service-bound vars (time-items.rq)
      val (ready, deferred) = b.exprBinds.partition(e =>
        acc != null && exprDepsOf(e.expr).forall(acc.columns.contains))
      ready.foreach(e => acc = acc.withColumn(e.alias, exprCol(e.expr)))
      b.services.foreach { sv => acc = serviceJoin(sv, acc, binds, forceLeft = false) }
      applyIriBinds()
      pendingIri.foreach { case (_, _, sv) =>
        throw new IllegalArgumentException(s"BIND IRI source ?$sv not bound by the pattern")
      }
      // MINUS / FILTER NOT EXISTS — left-anti join on the shared
      // vars; a pattern-less group is a pure row exclusion (NOT the
      // filter)
      b.minuses.foreach { case Minus(pats0, filts) =>
        def cond(f: Filt): Column = f match {
          // REGEX(STR(?v), …) — STR of an entity var is its id digits
          case FRegex(v, re) => col(v).cast("string").rlike(re)
          case FEq(v, value) => col(v) === value
          case FLang(v, _)   => throw new IllegalArgumentException(
            s"FILTER(LANG(?$v)) inside a MINUS / NOT EXISTS group is unsupported")
        }
        val pats = pats0.map(sub)
        if (pats.isEmpty) filts.foreach(f => acc = acc.filter(!coalesce(cond(f), lit(false))))
        else {
          var g = bgp(pats)
          filts.foreach(f => g = g.filter(cond(f)))
          val keys = joinKeys(acc, g)
          require(keys.nonEmpty,
            s"MINUS / FILTER NOT EXISTS group shares no variable with the outer pattern: $pats")
          acc = acc.join(g.select(keys.map(col): _*), keys, "left_anti")
        }
      }
      // VALUES — inline-data restriction; multi-var rows compile to
      // an OR-of-ANDs predicate (query-sized, codegen'd, pushes
      // down). Predicate-variable blocks are consumed by varPredFrame.
      b.values.filterNot(vb => vb.vars.sizeIs == 1 && predValues.contains(vb.vars.head))
        .foreach { case ValuesBlock(vars, rows0) =>
          val rows = rows0.map(_.map(resolve))
          vars.foreach(v => require(acc != null && acc.columns.contains(v),
            s"VALUES variable ?$v not bound by the pattern"))
          vars.indices.foreach { i =>
            val kinds = rows.map(_(i) match {
              case Num(_) => "n"
              case V(x) => throw new IllegalArgumentException(s"variable ?$x inside VALUES block")
              case _ => "l"
            }).distinct
            require(kinds.size == 1, s"VALUES ?${vars(i)} mixes entity and literal terms")
          }
          def litOf(t: Term): Column = t match {
            case Num(x) => lit(x); case V(x) => throw new IllegalArgumentException(
              s"variable ?$x inside VALUES block")
            case x => lit(litText(x))
          }
          acc = acc.filter(rows.map(r =>
            vars.zip(r).map { case (v, t) => col(v) === litOf(t) }.reduce(_ && _)
          ).reduce(_ || _))
        }
      b.filters.foreach {
        case FRegex(v, re) => acc = acc.filter(col(v).cast("string").rlike(re))
        case FEq(v, value) => acc = acc.filter(col(v) === value)
        case FLang(_, _)   => // consumed at the binding-site scans (langFilter)
      }
      // BIND(IF(?a = ?b, "t", "f") AS ?x): two-arm when with NO
      // otherwise — an unbound side yields an unbound verdict, exactly
      // SPARQL's IF-on-error semantics (and DuckDB's CASE twin)
      b.ifBinds.foreach { case IfBind(alias, v1, v2, t, e) =>
        Seq(v1, v2).foreach(v => require(acc != null && acc.columns.contains(v),
          s"BIND IF compares ?$v, which is not bound by the pattern"))
        acc = acc.withColumn(alias,
          when(col(v1) === col(v2), t).when(col(v1) =!= col(v2), e))
      }
      deferred.foreach { e =>
        exprDepsOf(e.expr).foreach(v => require(acc != null && acc.columns.contains(v),
          s"BIND expression input ?$v is not bound by the pattern"))
        acc = acc.withColumn(e.alias, exprCol(e.expr))
      }
      // this level's constant binds surface as columns of THIS frame
      if (acc != null) b.binds.foreach { case (v, t0) =>
        if (!acc.columns.contains(v)) acc = acc.withColumn(v, resolve(t0) match {
          case Num(x) => lit(x)
          case V(x)   => throw new IllegalArgumentException(s"BIND of variable ?$x unsupported")
          // a predicate-name constant surfaces as the name STRING —
          // this dialect's predicate representation (what ?rel binds
          // in the directClaim triangle)
          case x => lit(litText(x))
        })
      }
      acc
    }

    val acc = compileBody(q.body, null, Map.empty)
    require(acc != null, "empty graph pattern")
    modifiers(labelService(acc, q, graph, typed, autoLang, storeFor("label")), q)
  }

  /** Run SPARQL text against the built-in statement store of `dir` —
    * [[runOn]] over [[Triples.statements]]. */
  def run(spark: SparkSession, dir: String, queryText: String,
      predAliases: Map[String, String] = Map.empty,
      entityAliases: Map[String, Long] = Map.empty,
      autoLang: String = "de",
      graphs: Map[String, ServiceGraph] = Map.empty): DataFrame =
    runOn(spark, Triples.statements(spark, dir), queryText,
      predAliases, entityAliases, autoLang, graphs = graphs)

  /** Run SPARQL text — any of the four query forms — against a
    * CALLER-PROVIDED statements frame `(s, p, o_id, o_val, lang)`: a
    * store extended with extra relations (sitelink reification, a
    * second graph, a filtered view) runs the same query text.
    * `predAliases`/`entityAliases` are the store's dialect maps (see
    * the object doc), `entityValued` its typing dictionary (which
    * predicates bind `o_id`), `graphs` the registered SERVICE
    * endpoints. */
  def runOn(spark: SparkSession, statements: DataFrame, queryText: String,
      predAliases: Map[String, String] = Map.empty,
      entityAliases: Map[String, Long] = Map.empty,
      autoLang: String = "de",
      entityValued: Set[String] = defaultEntityPreds,
      graphs: Map[String, ServiceGraph] = Map.empty): DataFrame =
    answer(spark, ServiceGraph(statements, predAliases, entityAliases, entityValued),
      parse(queryText), autoLang, graphs, DescribeSeedCap)

  /** Seed-count switch point for DESCRIBE: at or below the cap the
    * solution set is collected and inlined (the query-sized-seeds
    * contract); above it the collect would OOM the driver and a
    * million-entry `isin` would break codegen anyway, so the plan
    * auto-switches to the checkpointed semi-join fallback. 10k long
    * ids ≈ 80 KB on the driver — far inside safety, far above any
    * sane DESCRIBE. */
  private val DescribeSeedCap: Long = 10000L

  /** Plan the stores, compile the WHERE solutions, and shape them by
    * the query form. The planner runs once here: `graph`'s pruned
    * store over the whole body, and one per registered endpoint over
    * all of that endpoint's SERVICE bodies. `seedCap` moves DESCRIBE's
    * switch point (specs force the semi-join fallback with 0). */
  private[graft] def answer(spark: SparkSession, graph: ServiceGraph, q: Query,
      autoLang: String, graphs: Map[String, ServiceGraph], seedCap: Long): DataFrame = {
    val store = plannedStore(graph, Seq(q.body), StoreMaterializeSites)
    val svcStores = servicesIn(q.body).groupBy(_.endpoint).flatMap { case (ep, svs) =>
      graphs.get(ep).flatMap(plannedStore(_, svs.map(_.body), ServiceStoreMaterializeSites))
        .map(ep -> _)
    }
    val sel = compileOn(spark, graph, q, autoLang, graphs, store, svcStores)
    q.form match {
      case Select => sel
      case Construct(template) => construct(sel, template, graph)
      // the kg_ask convention: the match count makes the oracle check
      // more than a constant
      case Ask => sel.agg(count(lit(1)).as("n_matches"))
        .select((col("n_matches") > 0).as("ask"), col("n_matches"))
      case Describe(v) => describe(sel, v, graph.statements, seedCap)
    }
  }

  /** CONSTRUCT: the template projects each solution into
    * statement-shaped rows `(s, p, o_id, o_val, lang)`, unioned and
    * DISTINCT (a CONSTRUCT result is a GRAPH — set semantics).
    * Template typing is read off the solution frame's dtypes (entity ⟺
    * long), so it follows the same schema-driven rule as patterns; a
    * literal-typed template subject rejects loudly. */
  private def construct(sel: DataFrame, template: Seq[Pattern], g: ServiceGraph): DataFrame = {
    def entAlias(name: String): Long = g.entityAliases.getOrElse(name,
      throw new IllegalArgumentException(
        s"prefixed entity '$name' in the CONSTRUCT template has no alias in the dialect map"))
    template.map { tp =>
      val sCol: Column = tp.s match {
        case V(n) =>
          require(sel.schema(n).dataType.typeName == "long",
            s"CONSTRUCT template subject ?$n is literal-typed — subjects are entities")
          col(n)
        case Num(v) => lit(v)
        case Prefixed(n) => lit(entAlias(n))
        case t => throw new IllegalArgumentException(
          s"literal subject '${litText(t)}' in CONSTRUCT template")
      }
      val pName = tp.p match {
        case Name(n) => storePred(g, n)
        case other => throw new IllegalArgumentException(
          s"a CONSTRUCT template predicate must be a name (no variable or path), got $other")
      }
      tp.o match {
        case V(n) if sel.schema(n).dataType.typeName == "long" =>
          Triples.rows(sel, sCol, lit(pName), oId = col(n))
        case V(n)   => Triples.rows(sel, sCol, lit(pName), oVal = col(n).cast("string"))
        case Num(v) => Triples.rows(sel, sCol, lit(pName), oId = lit(v).cast("long"))
        case Prefixed(n) => Triples.rows(sel, sCol, lit(pName), oId = lit(entAlias(n)))
        case t => Triples.rows(sel, sCol, lit(pName), oVal = lit(litText(t)))
      }
    }.reduce(_ unionAll _).distinct()
  }

  /** DESCRIBE ?v: every statement of `st` touching the solution set of
    * ?v (subject or object side), the kg_describe entity card. The
    * solution set is materialized ONCE (Catalyst re-executes an
    * uncached sub-plan under every join branch, the kg_describe
    * measured lesson), then:
    *
    *   - ≤ `seedCap` distinct seeds (every sane DESCRIBE): collected
    *     and inlined as ONE codegen'd `isin` OR-predicate — a single
    *     statements pass, no join;
    *   - above the cap (a data-sized solution set): the collect would
    *     be a driver OOM, so the plan AUTO-SWITCHES to the semi-join
    *     fallback over the checkpointed seed frame — subject-side
    *     semi-join ∪ (object-side semi-join ∖ subject hits), exact
    *     same multiset as the isin form, two statements scans instead
    *     of one, nothing data-sized ever on the driver. */
  private def describe(sel: DataFrame, v: String, st: DataFrame, seedCap: Long): DataFrame = {
    require(sel.schema(v).dataType.typeName == "long",
      s"DESCRIBE ?$v is literal-typed — DESCRIBE resolves entities")
    // nulls (an OPTIONAL-bound describe var) must drop IDENTICALLY in
    // both paths: unfiltered, the isin arm would getLong(0) a null
    // row into a spurious 0L seed while the semi-join arm silently
    // never matches it (round-10 ADVICE)
    val seedFrame =
      graft.util.Checkpoints.compact(
        sel.select(v).filter(col(v).isNotNull).distinct(), eager = true)
    if (seedFrame.count() <= seedCap) {
      val seeds = seedFrame.collect().map(_.getLong(0)).toSeq
      st.filter(col("s").isin(seeds: _*) || col("o_id").isin(seeds: _*))
    } else {
      val bySubject = st.join(seedFrame.select(col(v).as("s")), Seq("s"), "left_semi")
      val byObjectOnly = st
        .join(seedFrame.select(col(v).as("o_id")), Seq("o_id"), "left_semi")
        .join(seedFrame.select(col(v).as("s")), Seq("s"), "left_anti")
      bySubject.unionByName(byObjectOnly.select(bySubject.columns.map(col): _*))
    }
  }

  /** Forwards to [[SparqlQueries.queries]] for graftbench's module map,
    * which names this object. A `def`, so the two objects' initialisers
    * cannot cycle. ROADMAP direction 8 deletes it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = SparqlQueries.queries
}
