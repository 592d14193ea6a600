package graft.query

import graft.Fixpoint
import graft.rdf.RdfTerm
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The reference's query AST rebuilt 1:1 (reference: src/rdf/query.rs:2-31):
  * a `select` list of `$`-prefixed variables plus a `filter` of triple
  * patterns. Undeclared variables in `filter` fail fast — the reference
  * panics (query.rs:54); here it throws IllegalArgumentException.
  *
  * Divergences from the reference, by design (SURVEY §2.3 quirks are
  * artifacts, not features):
  *  - n shared variables join correctly (reference assumes exactly one);
  *  - results are set-distinct rows over ALL selected variables
  *    (reference: bag with a first-index-only dedup bug). The global
  *    `distinct` that makes them so is redundant when the input is a
  *    set of triples and every constant names one term: plain patterns
  *    whose constants are all `<x>` / `_:x` and whose variables are
  *    all projected, with only FILTER, ORDER BY, LIMIT and OFFSET
  *    besides, already yield distinct rows ([[Bgp.distinctOverSet]]),
  *    and `TripleStore.query` skips it for them;
  *  - BARE pattern values match any term by value (reference coerces
  *    literals to Named IRIs, making literals unmatchable,
  *    graph.rs:338-344); typed syntax (`<x>` / `"x"` / `_:x`) restricts
  *    the match to that term kind.
  */
final case class Sparql(
    vars: Seq[String],
    conds: Seq[(QueryUnit, QueryUnit, QueryUnit)],
    optionals: Seq[Seq[(QueryUnit, QueryUnit, QueryUnit)]] = Nil,
    constraints: Seq[(QueryUnit, String, QueryUnit)] = Nil,
    // each entry is one FILTER expression in DNF: outer Seq = ||-groups,
    // inner Seq = &&-chained comparisons (SPARQL: && binds tighter)
    disjunctions: Seq[Seq[Seq[(QueryUnit, String, QueryUnit)]]] = Nil,
    orderKeys: Seq[(String, Boolean)] = Nil, // (var, ascending)
    limitN: Option[Int] = None,
    offsetN: Option[Int] = None,
    distinctKeyword: Boolean = false,
    // aggregation (beyond the reference — standard SPARQL 1.1):
    // (fn, inputVar|"*", alias); with aggs present, groupKeys must
    // cover every plain select variable
    aggs: Seq[(String, String, String)] = Nil,
    groupKeys: Seq[String] = Nil,
    // HAVING constraints: (aggAlias, op, literal) — the alias must be
    // an aggregate that appears in the select list
    havings: Seq[(String, String, String)] = Nil,
    // internal variables (sequence-path midpoints) that join patterns
    // but are excluded from the projected output
    hiddenVars: Seq[String] = Nil,
    // VALUES clauses (SPARQL 1.1 inline data, single-variable form):
    // (var, allowed term values) — restricts the variable to the set
    valuesClauses: Seq[(String, Seq[String])] = Nil,
    // multi-variable VALUES rows (§10.2 full form): (vars, rows) — a
    // None cell is §10.2's UNDEF, resolved to the typed sentinel at
    // parse/build time so downstream compilation never string-sniffs
    // the keyword
    multiValuesClauses: Seq[(Seq[String], Seq[Seq[Option[String]]])] = Nil,
    // MINUS groups (SPARQL 1.1): solutions compatible with a group on
    // its shared variables are removed (anti-join); a group sharing no
    // variable removes nothing (SPARQL §8.3.3)
    minusGroups: Seq[Seq[(QueryUnit, QueryUnit, QueryUnit)]] = Nil,
    // FILTER [NOT] EXISTS groups: (positive, patterns) — keep solutions
    // for which the group does (not) match, via semi/anti join
    existsGroups: Seq[(Boolean, Seq[(QueryUnit, QueryUnit, QueryUnit)])] = Nil,
    // BIND items (SPARQL 1.1, restricted function set): (fn, inputVar,
    // outputVar) — fn ∈ str|ucase|lcase|strlen, applied in order
    binds: Seq[(String, String, String)] = Nil,
    // GRAPH groups (SPARQL 1.1 datasets): (graph term, patterns).
    // Requires a QUAD view (a `g` column alongside s, p, o); patterns
    // OUTSIDE any graph group run over the union default graph
    graphGroups: Seq[(QueryUnit, Seq[(QueryUnit, QueryUnit, QueryUnit)])] = Nil,
    // SPARQL 1.1 subqueries (`{ select … }` inside WHERE): each
    // evaluates independently and joins the outer solution on its
    // PROJECTED variables — inner-only variables are scoped out by
    // construction, per §12
    subqueries: Seq[Sparql] = Nil,
    // SPARQL 1.1 dataset clauses (§13.2), requiring a quad view:
    // FROM graphs merge into the default graph; FROM NAMED graphs are
    // the ones GRAPH groups may range over. With either present the
    // dataset is EXACTLY what is listed (a FROM-only query has no
    // named graphs; a FROM-NAMED-only query has an empty default
    // graph); with neither, the engine default applies (default =
    // union graph, every graph nameable)
    fromGraphs: Seq[String] = Nil,
    fromNamedGraphs: Seq[String] = Nil) {

  /** ORDER BY modifier (standard SPARQL; the reference has no solution
    * modifiers at all). Applied after projection/DISTINCT, before
    * LIMIT. A key may be a `$variable` or an aggregate select item
    * (`count($c)` — resolved to its alias), so GROUP BY top-k queries
    * (`order by count($c) desc limit N`) work. */
  def orderBy(keys: (String, Boolean)*): Sparql = {
    val resolved = keys.map { case (v, asc) =>
      Sparql.aggAlias(v) match {
        case Some(alias) =>
          require(aggs.exists(_._3 == alias),
            s"order by aggregate $v must appear in the select list")
          (alias, asc)
        case None =>
          require(vars.contains(stripVar(v)),
            s"order by variable $v not declared in select")
          (stripVar(v), asc)
      }
    }
    copy(orderKeys = orderKeys ++ resolved)
  }

  /** LIMIT modifier: deterministic only under an ORDER BY whose keys
    * uniquely rank rows — same contract as SQL. */
  def limit(n: Int): Sparql = {
    require(n >= 0, s"limit must be non-negative, got $n")
    copy(limitN = Some(n))
  }

  /** OFFSET modifier — applied before LIMIT (SPARQL slice order), so
    * `offset 10 limit 5` yields ordered rows 11..15. */
  def offset(n: Int): Sparql = {
    require(n >= 0, s"offset must be non-negative, got $n")
    copy(offsetN = Some(n))
  }

  def select(vs: Seq[String]): Sparql = copy(vars = vars ++ vs.map(stripVar))

  /** Aggregate select item (standard SPARQL 1.1 — the reference has no
    * aggregation at all): `fn` ∈ count|min|max|sum|avg, `v` a declared
    * variable or `*` (count only). Set semantics match the engine's
    * documented distinct-solutions model: aggregation runs over the
    * DISTINCT (group keys × input vars) projection. */
  def aggregate(fn: String, v: String, alias: String): Sparql = {
    require(Sparql.AggregateFns.contains(fn), s"unsupported aggregate: $fn")
    v match {
      case "*" => require(fn == "count", s"only count accepts *, got $fn(*)")
      case Sparql.SelAggExprRe(a, _, b) =>
        // arithmetic input (SPARQL 1.1 aggregate expressions): numeric
        // aggregates only — counting or concatenating an arithmetic
        // term has no SPARQL meaning the oracle could check
        require(Set("sum", "avg", "min", "max").contains(fn),
          s"arithmetic aggregate input needs sum/avg/min/max, got $fn($v)")
        Seq(a, b).foreach(x => require(vars.contains(x),
          s"aggregate variable $$$x not declared in select"))
      case _ => require(vars.contains(stripVar(v)),
        s"aggregate variable $v not declared in select")
    }
    copy(aggs = aggs :+ ((fn, if (v == "*") v else v.replace("$", ""), alias)))
  }

  /** HAVING constraint on an aggregate that appears in the select list
    * (standard SPARQL 1.1 / SQL semantics: filters groups after
    * aggregation). `aggTok` is the same `fn($v)` / `count(*)` syntax as
    * a select item; `value` a literal. */
  def having(aggTok: String, op: String, value: String): Sparql = {
    require(Sparql.ConstraintOps.contains(op) && op != "regex",
      s"unsupported having op: $op")
    val alias = Sparql.aggAlias(aggTok).getOrElse(
      throw new IllegalArgumentException(
        s"having expects an aggregate fn($$v), got: $aggTok"))
    require(aggs.exists(_._3 == alias),
      s"having aggregate $aggTok must appear in the select list")
    copy(havings = havings :+ ((alias, op, value)))
  }

  /** GROUP BY keys; with any aggregate present, these must cover every
    * plain (non-aggregated) select variable — same rule as SQL. */
  def groupBy(keys: Seq[String]): Sparql = {
    val stripped = keys.map(stripVar)
    stripped.foreach(k =>
      require(vars.contains(k), s"group by variable $$$k not declared in select"))
    copy(groupKeys = groupKeys ++ stripped)
  }

  def filter(patterns: Seq[Seq[String]]): Sparql =
    copy(conds = conds ++ parsePatterns(patterns))

  /** OPTIONAL group (beyond the reference — standard SPARQL): its
    * patterns left-join onto the required solution; unmatched rows
    * keep nulls for the group's variables. */
  def optional(patterns: Seq[Seq[String]]): Sparql =
    copy(optionals = optionals :+ parsePatterns(patterns))

  /** VALUES clause (SPARQL 1.1 inline data, one-variable form): the
    * variable may only take the listed concrete term values. */
  def values(v: String, vals: Seq[String]): Sparql = {
    val sv = stripVar(v)
    require(vars.contains(sv), s"values variable $v not declared in select")
    require(vals.nonEmpty, "values block must list at least one value")
    // UNDEF is explicitly rejected here rather than silently treated
    // as a term: a single-variable row of UNDEF constrains nothing, so
    // the clause would be a no-op — almost certainly a query bug. The
    // multi-variable form (valuesTable) supports UNDEF cells.
    require(!vals.exists(_.equalsIgnoreCase("undef")),
      "UNDEF is not allowed in the single-variable VALUES form " +
        "(a lone UNDEF row constrains nothing); use the " +
        "multi-variable form `values ( $v ) { ... }` if intended")
    copy(valuesClauses = valuesClauses :+ ((sv, vals)))
  }

  /** VALUES clause, multi-variable form (SPARQL 1.1 §10.2): the listed
    * variables may only take the enumerated row combinations — an
    * inline table the solution joins against. An `undef` cell (§10.2's
    * UNDEF) leaves that variable unconstrained in its row: the clause
    * then compiles to a per-row disjunction filter instead of the
    * semi-join (fully-bound row sets keep the join path). */
  def valuesTable(vs: Seq[String], rows: Seq[Seq[String]]): Sparql = {
    val svs = vs.map(stripVar)
    require(svs.nonEmpty, "values needs at least one variable")
    require(svs.distinct == svs, s"values variables must be distinct: $vs")
    svs.foreach(v => require(vars.contains(v),
      s"values variable $$$v not declared in select"))
    require(rows.nonEmpty, "values block must list at least one row")
    rows.foreach { r =>
      require(r.length == svs.length,
        s"values row width ${r.length} != ${svs.length} variables: $r")
      require(r.forall(!_.startsWith("$")), s"values rows must be concrete: $r")
    }
    // resolve §10.2's UNDEF keyword to the typed sentinel HERE (the
    // parse/build boundary — same rule as the text parser), so the
    // compiler never string-matches cells. `undef` is a keyword in
    // this API exactly as in SPARQL text; a graph term spelled
    // "undef" is not representable in VALUES, matching the grammar.
    val typed = rows.map(_.map(c =>
      if (c.equalsIgnoreCase("undef")) None else Some(c)))
    copy(multiValuesClauses = multiValuesClauses :+ ((svs, typed)))
  }

  /** MINUS group (SPARQL 1.1): remove solutions compatible with the
    * group's solutions on their shared variables. */
  def minus(patterns: Seq[Seq[String]]): Sparql =
    copy(minusGroups = minusGroups :+ parsePatterns(patterns))

  /** FILTER EXISTS / NOT EXISTS group (SPARQL 1.1): keep solutions for
    * which the group's patterns do (`positive`) / do not match. */
  def exists(positive: Boolean, patterns: Seq[Seq[String]]): Sparql =
    copy(existsGroups = existsGroups :+ ((positive, parsePatterns(patterns))))

  /** BIND (SPARQL 1.1, restricted to a small scalar-function set):
    * compute `fn(in)` into the fresh variable `out`. Outputs stay
    * string-typed, keeping the all-terms-are-strings invariant the
    * engine's joins/distincts rely on.
    *
    * `in` is the comma-packed argument list (args are single tokens,
    * so they cannot contain commas): the single-arg string fns take
    * one $variable; `coalesce` takes 1+ args, each a $variable or a
    * literal; `if` takes exactly `[!]bound($v) , then , else` with
    * then/else a $variable or literal. */
  def bind(fn: String, in: String, out: String): Sparql = {
    require(Sparql.BindFns.contains(fn), s"unsupported bind function: $fn")
    val so = stripVar(out)
    val args = in.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(args.nonEmpty, s"bind $fn needs at least one argument")
    // a folded nested call (`ucase($a)`) in a literal argument position
    // means the user tried to nest function calls — fail fast instead
    // of silently emitting the call text as a literal string. (if()'s
    // first argument is the one position where a call shape is legal.)
    args.zipWithIndex.foreach { case (a, idx) =>
      require((fn == "if" && idx == 0) ||
          !Sparql.NestedCallRe.pattern.matcher(a).matches(),
        s"bind $fn does not support nested function calls, got: $a")
    }
    def requireVar(a: String): Unit =
      require(vars.contains(stripVar(a)), s"bind input variable $a not declared in select")
    fn match {
      case "coalesce" =>
        args.filter(_.startsWith("$")).foreach(requireVar)
      case "if" =>
        require(args.length == 3,
          s"bind if takes `[!]bound($$v) , then , else`, got: $in")
        args.head match {
          case Sparql.BoundCondRe(_, v) =>
            require(vars.contains(v), s"bind input variable $$$v not declared in select")
          case other => throw new IllegalArgumentException(
            s"if() condition must be [!]bound($$v), got: $other")
        }
        args.tail.filter(_.startsWith("$")).foreach(requireVar)
      case "substr" | "replace" =>
        require(args.length == 3, s"bind $fn takes 3 arguments, got: $in")
        requireVar(args.head)
        if (fn == "substr") args.tail.foreach(a => require(
          scala.util.Try(a.toInt).isSuccess,
          s"substr positions must be integer literals, got: $a"))
        // a $var pattern would compile as the literal regex "$p" (an
        // anchor that never matches) — literal-only, like strbefore
        else args.tail.foreach(a => require(!a.startsWith("$"),
          s"bind replace pattern/replacement must be literals, got: $a"))
      case "concat" =>
        require(args.length >= 2, s"bind concat takes 2+ arguments, got: $in")
        args.filter(_.startsWith("$")).foreach(requireVar)
      case "strbefore" | "strafter" =>
        require(args.length == 2, s"bind $fn takes 2 arguments, got: $in")
        requireVar(args.head)
        require(!args(1).startsWith("$"),
          s"bind $fn separator must be a literal, got: ${args(1)}")
      case "strdt" | "strlang" =>
        // lexical form + datatype IRI / lang tag (§17.4.2.6-7); the
        // second argument may itself be a variable (a tag bound by a
        // pattern), matching the spec's simple-literal operand
        require(args.length == 2, s"bind $fn takes 2 arguments, got: $in")
        requireVar(args.head)
        if (args(1).startsWith("$")) requireVar(args(1))
      case "arith" =>
        require(args.length == 3 && Sparql.ArithOps.contains(args(1)),
          s"bind arithmetic takes `operand op operand`, got: $in")
        Seq(args.head, args(2)).foreach { a =>
          if (a.startsWith("$")) requireVar(a)
          else require(scala.util.Try(a.toDouble).isSuccess,
            s"arithmetic operand must be a $$variable or number, got: $a")
        }
      case _ =>
        require(args.length == 1, s"bind $fn takes exactly one argument, got: $in")
        requireVar(args.head)
    }
    require(vars.contains(so), s"bind target variable $out not declared in select")
    // SPARQL forbids rebinding an in-scope variable
    val patternVars = (conds ++ optionals.flatten)
      .flatMap(t => Seq(t._1, t._2, t._3)).collect { case QVar(n) => n }
    require(!patternVars.contains(so) && !binds.exists(_._3 == so),
      s"bind target $out is already bound")
    // single-arg fns historically accept a bare var name — normalize to
    // the $-marked form the compiler reads ($-prefix = variable,
    // bare = literal; coalesce/if callers must mark vars themselves)
    val packed =
      if (Sparql.PackedArgBindFns.contains(fn)) args.mkString(",")
      else "$" + stripVar(args.head)
    copy(binds = binds :+ ((fn, packed, so)))
  }

  /** GRAPH group (SPARQL 1.1 datasets): evaluate the group's patterns
    * within one named graph of a quad view. A bound term selects that
    * graph's slice (the group is a full sub-BGP there — property
    * paths included); a variable binds each solution's source graph
    * and must not collide with the group's pattern variables. */
  def graph(term: String, patterns: Seq[Seq[String]]): Sparql = {
    val t = QueryUnit.parse(term)
    val pats = parsePatterns(patterns)
    t match {
      case QVar(n) =>
        require(vars.contains(n), s"graph variable $term not declared in select")
        val patVars = pats.flatMap(p => Seq(p._1, p._2, p._3))
          .collect { case QVar(v) => v }
        require(!patVars.contains(n),
          s"graph variable $term collides with a pattern variable in its group")
      case _ => ()
    }
    copy(graphGroups = graphGroups :+ ((t, pats)))
  }

  /** FILTER constraint (beyond the reference — standard SPARQL):
    * a comparison applied to the joined solution. Supported ops:
    * == != < <= > >= regex, plus the SPARQL built-in filter functions
    * (op = the function name, optionally `!`-prefixed for negation):
    * unary `bound`/`isiri`/`isliteral`/`isblank` (rhs must be ""), and
    * binary `strstarts`/`strends`/`contains` (rhs = the literal arg). */
  def constraint(lhs: String, op: String, rhs: String): Sparql =
    copy(constraints = constraints :+ parseComparison(lhs, op, rhs))

  /** FILTER with `&&` / `||` (standard SPARQL boolean connectives,
    * `&&` binding tighter): groups are the ||-separated alternatives,
    * each a &&-chain of comparisons. */
  def constraintOr(groups: Seq[Seq[(String, String, String)]]): Sparql = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty filter expression")
    copy(disjunctions = disjunctions :+
      groups.map(_.map { case (l, op, r) => parseComparison(l, op, r) }))
  }

  private def parseComparison(
      lhs: String, op: String, rhs: String): (QueryUnit, String, QueryUnit) = {
    val base = if (op.startsWith("!")) op.substring(1) else op
    val isUnaryFn = Sparql.UnaryFilterFns.contains(base)
    val isBinaryFn = Sparql.BinaryFilterFns.contains(base)
    val isIn = Sparql.InOps.contains(op)
    require(Sparql.ConstraintOps.contains(op) || isUnaryFn || isBinaryFn || isIn,
      s"unsupported filter op: $op")
    val l = lhs match {
      case Sparql.AccessorRe(fn, v) =>
        require(!isUnaryFn && !isBinaryFn,
          s"filter function $base cannot take an accessor argument: $lhs")
        require(vars.contains(v), s"variable $$$v not declared in select")
        QFn(fn, v)
      case other => QueryUnit.parse(other)
    }
    if (isIn) {
      require(l.isInstanceOf[QVar] || l.isInstanceOf[QFn],
        s"IN takes a $$variable or accessor lhs, got: $lhs")
      require(rhs.nonEmpty, "IN list must be non-empty")
      l match {
        case QVar(n) => require(vars.contains(n), s"variable $$$n not declared in select")
        case _       => ()
      }
      // rhs stays the comma-packed raw list; the compiler splits it
      return (l, op, QVal(rhs))
    }
    // accessors fold on the RHS too (`str($a) == str($b)`, the
    // standard value-comparison idiom) — except for ops whose rhs is
    // a literal by contract (regex patterns, langmatches ranges,
    // filter-function arguments)
    val r = rhs match {
      case Sparql.AccessorRe(fn, v) if !isUnaryFn && !isBinaryFn &&
          base != "regex" && base != Sparql.LangMatchesOp =>
        require(vars.contains(v), s"variable $$$v not declared in select")
        QFn(fn, v)
      case _ => QueryUnit.parse(rhs)
    }
    if (isUnaryFn || isBinaryFn) {
      // SPARQL built-in filter functions take a VARIABLE (the engine's
      // term invariant leaves no other useful operand kind)
      require(l.isInstanceOf[QVar], s"filter function $base takes a $$variable, got: $lhs")
      if (isBinaryFn) require(r.isInstanceOf[QVal] && rhs.nonEmpty,
        s"filter function $base takes a literal argument, got: $rhs")
      else require(rhs.isEmpty, s"filter function $base takes exactly one argument")
    }
    // rlike needs a literal pattern; silently matching against the
    // variable NAME (pre-round-4 behavior) produced wrong results
    require(op != "regex" || r.isInstanceOf[QVal],
      s"regex pattern must be a literal, got variable $rhs")
    require(op != Sparql.LangMatchesOp || r.isInstanceOf[QVal],
      s"langmatches range must be a literal, got variable $rhs")
    // sameTerm (§17.4.1.8) is term identity — both operands must be
    // variables (a literal rhs has no kind to compare)
    require(op != "sameterm" || (l.isInstanceOf[QVar] && r.isInstanceOf[QVar]),
      s"sameterm takes two $$variables, got: $lhs, $rhs")
    Seq(l, r).foreach {
      case QVar(n) => require(vars.contains(n), s"variable $$$n not declared in select")
      case _       => ()
    }
    (l, op, r)
  }

  private def parsePatterns(
      patterns: Seq[Seq[String]]): Seq[(QueryUnit, QueryUnit, QueryUnit)] = {
    val parsed = patterns.map { p =>
      require(p.length == 3, s"triple pattern must have 3 positions, got $p")
      (QueryUnit.parse(p(0)), QueryUnit.parse(p(1)), QueryUnit.parse(p(2)))
    }
    parsed.flatMap(t => Seq(t._1, t._2, t._3)).foreach {
      case QVar(n) => require(vars.contains(n), s"variable $$$n not declared in select")
      case _       => ()
    }
    parsed
  }

  private def stripVar(v: String): String =
    if (v.startsWith("$")) v.substring(1) else v
}

object Sparql {
  def apply(): Sparql = Sparql(Nil, Nil)

  val ConstraintOps: Set[String] =
    Set("==", "!=", "<", "<=", ">", ">=", "regex", "langmatches", "sameterm")
  /** SPARQL built-in filter functions (§17.4), used as constraint ops
    * (optionally `!`-prefixed): unary term tests and binary string
    * tests. `bound($x)` with OPTIONAL is the standard
    * negation-by-failure idiom; the `is*` kind tests require a
    * kind-aware (struct-term) store and fail fast on a plain view. */
  val UnaryFilterFns: Set[String] =
    Set("bound", "isiri", "isliteral", "isblank", "isnumeric")
  val BinaryFilterFns: Set[String] = Set("strstarts", "strends", "contains")
  /** `langMatches(lang($v), range)` (§17.4.3.2) — parsed as a
    * comparison op so the lhs can be the `lang()` accessor (the idiom)
    * or a plain variable; matching is RFC 4647 basic filtering. */
  val LangMatchesOp = "langmatches"
  /** Term accessors usable as a comparison LHS (`str($x) == v`,
    * `lang($o) == en`, `datatype($o) in ( … )` — SPARQL §17.4.2):
    * `str` is the lexical form (identity on a plain string view),
    * `lang`/`datatype` need the lang-aware term struct and follow the
    * spec's totalization — plain literal → ""/xsd:string, lang literal
    * → tag/rdf:langString, typed literal → ""/its datatype, IRI/blank
    * → type error (null → row filtered). */
  val AccessorFns: Set[String] =
    Set("str", "lang", "datatype", "strlen", "ucase", "lcase")
  /** Membership ops: rhs is the comma-packed value list (values are
    * single tokens, so they cannot contain commas — the front-end
    * splits on them). */
  val InOps: Set[String] = Set("in", "!in")
  private[graft] val AccessorRe =
    """(str|lang|datatype|strlen|ucase|lcase)\(\$(\w+)\)""".r
  /** `datatype()` results for the untyped literal kinds (RDF 1.1 §3.3:
    * a simple literal is xsd:string, a lang-tagged one rdf:langString). */
  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  val RdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  /** A bare (non-IRI, non-variable) predicate token — the only kind
    * the path grammar applies to; IRIs keep their slashes and other
    * punctuation. */
  private def bareToken(tok: String): Boolean =
    !tok.contains("://") && !tok.startsWith("<") && !tok.startsWith("$")

  /** Does this predicate token carry property-path syntax (sequence,
    * alternation, inverse, negated set, or a closure suffix)? THE
    * shared test for everything that must agree with the evaluator's
    * path treatment — the parse-time sequence rewrite, the graph-group
    * guard, and delete-where's fail-fast all call here, so the guard
    * and the rewrite cannot drift. */
  def pathSyntax(tok: String): Boolean =
    bareToken(tok) && (tok.contains("/") || tok.contains("|") ||
      PathQuantRe.matches(tok) || UnboundedQuantRe.matches(tok) ||
      (tok.length > 1 && (tok.startsWith("^") || tok.startsWith("!") ||
        tok.endsWith("+") || tok.endsWith("*") || tok.endsWith("?"))))

  /** Bounded-repetition path quantifier `p{n}` / `p{n,m}` (the SPARQL
    * 1.1 draft quantifier grammar, dropped from the final REC but a
    * widely supported extension). The base must be a PLAIN predicate —
    * quantifying a composed path is rejected at evaluation. */
  val PathQuantRe = """([^{}]+)\{(\d+)(?:,(\d+))?\}""".r
  /** The unbounded form `p{n,}` — rewritten at parse time to existing
    * machinery: `{0,}` → `p*`, `{1,}` → `p+`, `{n,}` (n ≥ 2) →
    * `p{n-1}` into a hidden midpoint, then `p+`. */
  val UnboundedQuantRe = """([^{}]+)\{(\d+),\}""".r

  /** The sequence-path subset of [[pathSyntax]]: what the parse-time
    * `p1/p2` rewrite splits. */
  private[query] def sequencePath(tok: String): Boolean =
    bareToken(tok) && tok.contains("/")
  val AggregateFns: Set[String] =
    Set("count", "min", "max", "sum", "avg", "group_concat", "sample")
  val BindFns: Set[String] =
    Set("str", "ucase", "lcase", "strlen", "coalesce", "if", "substr", "replace",
      "concat", "strbefore", "strafter", "arith",
      // numeric (§17.4.4), hash (§17.4.6) and datetime (§17.4.5)
      // built-ins — all unary over the term's lexical form
      "abs", "round", "ceil", "floor",
      "md5", "sha1", "sha256", "sha384", "sha512",
      "year", "month", "day", "hours", "minutes", "seconds",
      // term constructors (§17.4.2.5-7): produce full 4-field term
      // structs, which the accessor/filter machinery consumes like
      // pattern-bound terms
      "strdt", "strlang", "iri", "bnode",
      "encode_for_uri")
  /** Infix arithmetic operators `bind ( $a + $b as $z )` compiles
    * through the internal `arith` bind fn (SPARQL §17.4 operator
    * mapping, numeric promotion to double). */
  val ArithOps: Set[String] = Set("+", "-", "*", "/")
  /** Bind fns whose packed argument list is passed through verbatim
    * (multi-arg); everything else normalizes to one `$var` arg. */
  private[query] val PackedArgBindFns: Set[String] =
    Set("coalesce", "if", "substr", "replace", "concat", "strbefore",
      "strafter", "arith", "strdt", "strlang")
  /** The supported `if()` condition shape (SPARQL's full boolean
    * expression grammar is out of scope; `[!]bound($v)` is the idiom
    * OPTIONAL defaults actually use — everything else COALESCE covers). */
  private[graft] val BoundCondRe = """(!?)bound\(\$(\w+)\)""".r
  /** The shape a folded nested call takes when it lands in a bind
    * argument position — rejected (nesting is unsupported) rather than
    * silently treated as a literal string. */
  private[query] val NestedCallRe = """!?\w+\(\$\w+\)""".r
  /** `count($c)` / `count(*)` / `sum($x*$y)` select items; alias =
    * `fn_var` / `fn_all` / `fn_a_op_b` (op spelled plus/minus/mul/div). */
  private val AggTok =
    """(?i)(count|min|max|sum|avg|group_concat|sample)\((\$\w+[-+*/]\$\w+|\$\w+|\*)\)""".r
  /** Arithmetic aggregate input, select-list form (`$x*$y`). */
  private[query] val SelAggExprRe = """\$(\w+)([-+*/])\$(\w+)""".r
  /** Same, after `$`-stripping (`x*y`) — the stored `aggs` form. */
  private[query] val AggExprRe = """(\w+)([-+*/])(\w+)""".r
  private def opName(op: String): String = op match {
    case "+" => "plus"
    case "-" => "minus"
    case "*" => "mul"
    case "/" => "div"
  }

  /** Alias an aggregate token resolves to, if it is one. */
  def aggAlias(tok: String): Option[String] = tok match {
    case AggTok(fn, v) =>
      val suffix = v match {
        case "*" => "all"
        case SelAggExprRe(a, op, b) => s"${a}_${opName(op)}_$b"
        case _ => v.substring(1)
      }
      Some(s"${fn.toLowerCase}_$suffix")
    case _ => None
  }

  /** Tiny string front-end (the reference declares a `sparql!` macro
    * but leaves it `unimplemented!()`, query.rs:74-77 — this completes
    * the intent). Grammar:
    *
    *   select [distinct] ($a | fn($a) | count(*)) …
    *   where { $a pred obj . subj pred $b
    *           [optional { … }]
    *           [filter ( lhs op rhs [&& …] [|| …] )] }
    *   [group by $a …] [having ( fn($a) op value )]
    *   [order by $a [asc|desc] …] [limit N] [offset N]
    *
    * Whitespace-tokenized; patterns separated by a STANDALONE '.'
    * token (a dot surrounded by whitespace, or the final dot before
    * '}') — dots inside values (IRIs like http://g.test/alice) are
    * preserved; `$`-prefixed tokens are variables; everything else is
    * a value (typed via [[QueryUnit.parse]]: `<x>` IRI-only, `"x"`
    * literal-only, `_:x` blank-only, bare = any kind by value). */
  def parse(q: String): Sparql = {
    val lower = q.trim
    val si = lower.toLowerCase.indexOf("select")
    val wi = lower.toLowerCase.indexOf("where")
    require(si == 0 && wi > 0, s"expected 'select … where { … }', got: $q")
    val selToks = lower.substring(si + 6, wi).trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val hasDistinct = selToks.headOption.exists(_.equalsIgnoreCase("distinct"))
    val selWithDataset = if (hasDistinct) selToks.tail else selToks
    // dataset clauses (§13.2) sit between the select list and WHERE:
    // `from <g>` / `from named <g>`, repeatable
    val fromIdx = selWithDataset.indexWhere(_.equalsIgnoreCase("from"))
    val selItems = if (fromIdx < 0) selWithDataset else selWithDataset.take(fromIdx)
    val fromG = Vector.newBuilder[String]
    val fromNamed = Vector.newBuilder[String]
    if (fromIdx >= 0) {
      val ds = selWithDataset.drop(fromIdx)
      var di = 0
      def graphTok(t: String): String = QueryUnit.parse(t) match {
        case QVal(v, _) => v
        case other => throw new IllegalArgumentException(
          s"dataset clause takes a graph name, got: $other")
      }
      while (di < ds.length) {
        require(ds(di).equalsIgnoreCase("from"), s"expected 'from', got ${ds(di)}")
        if (di + 1 < ds.length && ds(di + 1).equalsIgnoreCase("named")) {
          require(di + 2 < ds.length, "from named needs a graph name")
          fromNamed += graphTok(ds(di + 2)); di += 3
        } else {
          require(di + 1 < ds.length, "from needs a graph name")
          fromG += graphTok(ds(di + 1)); di += 2
        }
      }
    }
    // split the select list into plain variables and aggregate items
    // (alias via aggAlias — the same helper HAVING resolves against, so
    // the two formulas cannot drift)
    val aggItems = selItems.collect { case t @ AggTok(fn, v) =>
      (fn.toLowerCase, v, aggAlias(t).get)
    }
    // duplicate select items would collide on the generated alias and
    // surface as an opaque Spark duplicate-column error — fail fast here
    require(aggItems.map(_._3).distinct.length == aggItems.length,
      s"duplicate aggregate select item in: ${selItems.mkString(" ")}")
    val plainVars = selItems.filterNot(t => AggTok.matches(t))
    plainVars.foreach(t => require(t.startsWith("$"),
      s"select item must be a $$variable or aggregate fn($$v), got: $t"))
    // agg INPUT vars join the declared set so patterns can bind them
    // (an arithmetic input `$x*$y` contributes both component vars)
    val aggVars = aggItems.flatMap {
      case (_, "*", _) => Nil
      case (_, v, _)   => v.split("[-+*/]").toSeq
    }
    val vars = plainVars ++ aggVars.filterNot(plainVars.contains)
    val afterWhere = lower.substring(wi + 5).trim
    require(afterWhere.startsWith("{"), "where clause must be braced")
    // depth-scan to the matching close brace: solution modifiers
    // (order by / limit) follow AFTER it
    var depth = 0
    var end = -1
    var scan = 0
    while (scan < afterWhere.length && end < 0) {
      afterWhere.charAt(scan) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = scan
        case _   => ()
      }
      scan += 1
    }
    require(end > 0, "where clause must be braced")
    val body = afterWhere.substring(0, end + 1)
    val modifierToks = afterWhere.substring(end + 1).trim
      .split("\\s+").toSeq.filter(_.nonEmpty)
    val tokens0 = body.substring(1, body.length - 1).trim
      // make braces/parens standalone tokens so "optional{"/"filter("
      // parse (which also means regex literals cannot contain braces
      // or parens); commas are NOT split globally — they are legal
      // inside IRIs, pattern values, and regex literals — only binary
      // filter-function argument lists split them (see toCmp)
      .replace("{", " { ").replace("}", " } ")
      .replace("(", " ( ").replace(")", " ) ")
      .split("\\s+").toSeq.filter(_.nonEmpty)
    // Re-attach {n[,m]} path quantifiers that the brace spacing split
    // (`knows{1,3}` → `knows`, `{`, `1,3`, `}`). Only a digit-bodied
    // brace group DIRECTLY after a bare non-delimiter token merges —
    // body groups (optional/graph/subquery/values/exists) are
    // keyword- or brace-introduced and never digit-bodied, so the
    // shapes cannot collide. Quantifier braces must be written without
    // internal spaces (`p{1,3}`, not `p{ 1, 3 }`).
    val tokens = {
      val delim = Set("{", "}", "(", ")", ".")
      val out = Vector.newBuilder[String]
      var tk = 0
      while (tk < tokens0.length) {
        if (tk + 3 < tokens0.length && tokens0(tk + 1) == "{" &&
            tokens0(tk + 2).matches("""\d+(,\d*)?""") && tokens0(tk + 3) == "}" &&
            !delim.contains(tokens0(tk)) && !tokens0(tk).startsWith("$")) {
          out += s"${tokens0(tk)}{${tokens0(tk + 2)}}"; tk += 4
        } else { out += tokens0(tk); tk += 1 }
      }
      out.result()
    }
    // With aggregates, pattern/filter variables NOT in the select list
    // are legal solution variables that aggregate away (SPARQL 1.1 —
    // `select $g count(*) where { $x in $g } group by $g` must parse);
    // declare them internally so pattern validation accepts them. The
    // strict declared-vars check (typo protection) stays for plain
    // queries, where an unselected variable can only be a mistake.
    val declaredVars =
      if (aggItems.isEmpty) vars
      else (vars ++ tokens.collect {
        case t if t.startsWith("$") && t.length > 1 => t.stripSuffix(".").substring(1)
      }).distinct

    def toPatterns(toks: Seq[String]): Seq[Seq[String]] = splitPatterns(toks)

    // split the body into required tokens, optional { … } groups,
    // filter ( lhs op rhs ) constraints, values / minus / bind /
    // filter [not] exists clauses
    val required = Vector.newBuilder[String]
    val optGroups = Vector.newBuilder[Seq[String]]
    val filterExprs = Vector.newBuilder[Seq[Seq[(String, String, String)]]]
    val valuesItems = Vector.newBuilder[(String, Seq[String])]
    val multiValuesItems = Vector.newBuilder[(Seq[String], Seq[Seq[String]])]
    val minusBodies = Vector.newBuilder[Seq[String]]
    val existsBodies = Vector.newBuilder[(Boolean, Seq[String])]
    val bindItems = Vector.newBuilder[(String, String, String)]
    val graphItems = Vector.newBuilder[(String, Seq[String])]
    val subqueryBodies = Vector.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      if (tokens(i).equalsIgnoreCase("optional")) {
        require(i + 1 < tokens.length && tokens(i + 1) == "{",
          "optional must be followed by a braced group")
        val close = tokens.indexOf("}", i + 2)
        require(close > 0, "unclosed optional group")
        optGroups += tokens.slice(i + 2, close)
        i = close + 1
      } else if (tokens(i) == "{") {
        // a bare braced group in the body is a SUBQUERY (§12); find its
        // matching close (the subquery's own where nests braces) and
        // re-parse the substring recursively at build time below
        require(i + 1 < tokens.length && tokens(i + 1).equalsIgnoreCase("select"),
          "braced group inside where must be a `{ select … }` subquery")
        var sDepth = 1
        var sj = i + 1
        while (sj < tokens.length && sDepth > 0) {
          if (tokens(sj) == "{") sDepth += 1
          else if (tokens(sj) == "}") sDepth -= 1
          if (sDepth > 0) sj += 1
        }
        require(sDepth == 0, "unclosed subquery")
        // re-joining the standalone-tokenized stream must restore
        // `count($x)`-style aggregate tokens (select items and
        // having/order keys match them as ONE token); every other
        // paren (filter, bind, having's own) stays spaced — the
        // recursive parse expects exactly that
        subqueryBodies += tokens.slice(i + 1, sj).mkString(" ")
          .replaceAll(
            "(?i)\\b(count|min|max|sum|avg|group_concat|sample) \\( (\\$\\w+[-+*/]\\$\\w+|\\$\\w+|\\*) \\)",
            "$1($2)")
        i = sj + 1
      } else if (tokens(i).equalsIgnoreCase("graph")) {
        require(i + 2 < tokens.length && tokens(i + 2) == "{",
          "graph must be `graph <term>|$var { … }`")
        val close = tokens.indexOf("}", i + 3)
        require(close > 0, "unclosed graph group")
        graphItems += ((tokens(i + 1), tokens.slice(i + 3, close)))
        i = close + 1
      } else if (tokens(i).equalsIgnoreCase("minus")) {
        require(i + 1 < tokens.length && tokens(i + 1) == "{",
          "minus must be followed by a braced group")
        val close = tokens.indexOf("}", i + 2)
        require(close > 0, "unclosed minus group")
        minusBodies += tokens.slice(i + 2, close)
        i = close + 1
      } else if (tokens(i).equalsIgnoreCase("values")) {
        if (i + 1 < tokens.length && tokens(i + 1) == "(") {
          // multi-variable form: values ( $a $b ) { ( x y ) ( z w ) }
          val vclose = tokens.indexOf(")", i + 2)
          require(vclose > i + 2, "values ( … ) needs at least one variable")
          val vs = tokens.slice(i + 2, vclose)
          require(vs.forall(_.startsWith("$")),
            s"values ( … ) lists $$variables, got: ${vs.mkString(" ")}")
          require(vclose + 1 < tokens.length && tokens(vclose + 1) == "{",
            "values ( $vars ) must be followed by { ( row ) … }")
          val close = tokens.indexOf("}", vclose + 2)
          require(close > 0, "unclosed values block")
          val rows = Vector.newBuilder[Seq[String]]
          var k = vclose + 2
          while (k < close) {
            require(tokens(k) == "(",
              s"values rows must be parenthesized, got: ${tokens(k)}")
            val rclose = tokens.indexOf(")", k + 1)
            require(rclose > k && rclose < close, "unclosed values row")
            rows += tokens.slice(k + 1, rclose)
            k = rclose + 1
          }
          multiValuesItems += ((vs, rows.result()))
          i = close + 1
        } else {
          require(i + 2 < tokens.length && tokens(i + 1).startsWith("$") &&
            tokens(i + 2) == "{", "values must be `values $var { v1 v2 … }`")
          val close = tokens.indexOf("}", i + 3)
          require(close > 0, "unclosed values block")
          val vals = tokens.slice(i + 3, close)
          require(vals.nonEmpty && vals.forall(!_.startsWith("$")),
            "values block must list concrete terms")
          valuesItems += ((tokens(i + 1), vals))
          i = close + 1
        }
      } else if (tokens(i).equalsIgnoreCase("bind")) {
        // `bind ( $a as $b )` or `bind ( fn ( arg [, arg…] ) as $b )`
        // — fn args are $variables or literals; `if`'s condition is a
        // nested `[!]bound ( $v )` call, folded to one token below
        require(i + 1 < tokens.length && tokens(i + 1) == "(",
          "bind must be followed by a parenthesized expression")
        if (i + 5 < tokens.length && tokens(i + 2).startsWith("$") &&
            tokens(i + 3).equalsIgnoreCase("as") &&
            tokens(i + 4).startsWith("$") && tokens(i + 5) == ")") {
          bindItems += (("str", tokens(i + 2), tokens(i + 4)))
          i += 6
        } else if (i + 7 < tokens.length && Sparql.ArithOps.contains(tokens(i + 3)) &&
            tokens(i + 5).equalsIgnoreCase("as") &&
            tokens(i + 6).startsWith("$") && tokens(i + 7) == ")") {
          // infix arithmetic: `bind ( $a + $b as $z )` — operands are
          // $variables or numeric literals, promotion to double
          bindItems += (("arith",
            s"${tokens(i + 2)},${tokens(i + 3)},${tokens(i + 4)}", tokens(i + 6)))
          i += 8
        } else {
          require(i + 3 < tokens.length && tokens(i + 3) == "(",
            "bind must be `bind ( $v as $w )` or `bind ( fn ( arg… ) as $w )`")
          var bDepth = 1
          var bj = i + 4
          while (bj < tokens.length && bDepth > 0) {
            if (tokens(bj) == "(") bDepth += 1
            else if (tokens(bj) == ")") bDepth -= 1
            if (bDepth > 0) bj += 1
          }
          require(bDepth == 0, "unclosed bind expression")
          require(bj + 3 < tokens.length && tokens(bj + 1).equalsIgnoreCase("as") &&
            tokens(bj + 2).startsWith("$") && tokens(bj + 3) == ")",
            "bind must end `… ) as $w )`")
          // fold nested calls (`bound ( $x )` → `bound($x)`), then
          // split the comma-separated argument list
          val argToks = Vector.newBuilder[String]
          var bk = i + 4
          while (bk < bj) {
            if (bk + 3 < bj && tokens(bk + 1) == "(" && tokens(bk + 3) == ")") {
              argToks += s"${tokens(bk).toLowerCase}(${tokens(bk + 2)})"
              bk += 4
            } else { argToks += tokens(bk); bk += 1 }
          }
          val args = argToks.result()
            .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
          require(args.nonEmpty, "bind expression needs at least one argument")
          bindItems += ((tokens(i + 2).toLowerCase, args.mkString(","), tokens(bj + 2)))
          i = bj + 4
        }
      } else if (tokens(i).equalsIgnoreCase("filter") && i + 1 < tokens.length &&
          (tokens(i + 1).equalsIgnoreCase("exists") ||
            (tokens(i + 1).equalsIgnoreCase("not") && i + 2 < tokens.length &&
              tokens(i + 2).equalsIgnoreCase("exists")))) {
        val positive = tokens(i + 1).equalsIgnoreCase("exists")
        val bi = if (positive) i + 2 else i + 3
        require(bi < tokens.length && tokens(bi) == "{",
          "filter [not] exists must be followed by a braced group")
        val close = tokens.indexOf("}", bi + 1)
        require(close > 0, "unclosed exists group")
        existsBodies += ((positive, tokens.slice(bi + 1, close)))
        i = close + 1
      } else if (tokens(i).equalsIgnoreCase("filter")) {
        require(i + 1 < tokens.length && tokens(i + 1) == "(",
          "filter must be followed by a parenthesized comparison")
        // depth-aware close scan: function calls (`bound ( $x )`) nest
        // parens inside the filter's own
        var fDepth = 1
        var fj = i + 2
        while (fj < tokens.length && fDepth > 0) {
          if (tokens(fj) == "(") fDepth += 1
          else if (tokens(fj) == ")") fDepth -= 1
          if (fDepth > 0) fj += 1
        }
        require(fDepth == 0, "unclosed filter expression")
        val close = fj
        // ( c1 && c2 || c3 ) → DNF: split at || first (&& binds tighter)
        def splitOn(ts: Seq[String], sep: String): Seq[Seq[String]] =
          ts.foldLeft(Vector(Vector.empty[String])) {
            case (acc, `sep`) => acc :+ Vector.empty
            case (acc, t)     => acc.init :+ (acc.last :+ t)
          }
        // each term is a plain comparison or a built-in function call,
        // normalized to the (lhs, op, rhs) constraint triple (rhs = ""
        // for unary functions). ONLY a binary function's argument list
        // splits commas off its tokens (`$v , lit`, `$v, lit`, …) —
        // comparisons keep commas intact, so comma-bearing regex
        // literals and values survive (braces/parens stay reserved by
        // the body tokenizer, so {m,n} quantifiers do not).
        def toCmp(c0: Seq[String]): (String, String, String) = {
          // accessor calls (`str ( $x )`, `lang ( $n )`) fold to one
          // compound operand token ANYWHERE in the term — as a
          // comparison lhs or nested in a binary call like
          // `langmatches ( lang ( $n ) , en )` — which parseComparison
          // re-parses via AccessorRe. A 4-token term that IS one bare
          // accessor call stays unfolded (`str ( $x )` alone is not a
          // comparison; the generic match rejects it with the grammar
          // error instead of a one-token puzzle).
          val folded =
            if (c0.length == 4) c0
            else {
              val out = Vector.newBuilder[String]
              var k = 0
              while (k < c0.length) {
                if (k + 3 < c0.length && c0(k + 1) == "(" && c0(k + 3) == ")" &&
                    Sparql.AccessorFns.contains(c0(k).toLowerCase) &&
                    c0(k + 2).startsWith("$")) {
                  out += s"${c0(k).toLowerCase}(${c0(k + 2)})"; k += 4
                } else { out += c0(k); k += 1 }
              }
              out.result()
            }
          // `lhs [not] in ( v1 , v2 … )` → (lhs, in|!in, "v1,v2") with
          // the values comma-packed (values are single tokens, so they
          // cannot contain commas; regex literals keep theirs — this
          // branch only fires on an in-op followed by a paren list)
          val inIdx = folded.indexWhere(_.equalsIgnoreCase("in"))
          if ((inIdx == 1 || (inIdx == 2 && folded(1).equalsIgnoreCase("not"))) &&
              inIdx + 1 < folded.length && folded(inIdx + 1) == "(") {
            require(folded.last == ")",
              s"IN must be `lhs [not] in ( v1 , v2 … )`, got: ${folded.mkString(" ")}")
            val vals = folded.slice(inIdx + 2, folded.length - 1)
              .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
            require(vals.nonEmpty, "IN list must be non-empty")
            return (folded(0), if (inIdx == 2) "!in" else "in", vals.mkString(","))
          }
          val c = folded match {
            case f +: rest if {
              val base = (if (f.startsWith("!")) f.substring(1) else f).toLowerCase
              Sparql.BinaryFilterFns.contains(base) ||
                base == Sparql.LangMatchesOp || base == "sameterm"
            } =>
              f +: rest.flatMap(t =>
                t.split("(?<=,)|(?=,)").toSeq.filter(_.nonEmpty))
            case other => other
          }
          c match {
            case Seq(l, op, r)                   => (l, op, r)
            case Seq(f, "(", v, ")")             => (v, f.toLowerCase, "")
            case Seq(f, "(", v, ",", litv, ")")  => (v, f.toLowerCase, litv)
            case other => throw new IllegalArgumentException(
              s"filter term must be `lhs op rhs` or `fn ( $$v [, lit] )`, got: ${other.mkString(" ")}")
          }
        }
        // [not] exists { … } terms INSIDE the filter expression
        // (`filter ( exists { $c in_nation N } && $k < 10 )`): each
        // lifts out as a standalone exists group — their && with the
        // remaining comparisons is exactly the conjunctive semantics
        // the group form already evaluates. || around an exists term
        // has no such decomposition and is rejected.
        val raw = tokens.slice(i + 2, close)
        val restB = Vector.newBuilder[String]
        var hadExists = false
        var rk = 0
        while (rk < raw.length) {
          val negEx = raw(rk).equalsIgnoreCase("not") && rk + 1 < raw.length &&
            raw(rk + 1).equalsIgnoreCase("exists")
          val posEx = raw(rk).equalsIgnoreCase("exists")
          if (negEx || posEx) {
            hadExists = true
            val ebi = if (negEx) rk + 2 else rk + 1
            require(ebi < raw.length && raw(ebi) == "{",
              "exists inside filter must be followed by a braced group")
            val eclose = raw.indexOf("}", ebi + 1)
            require(eclose > 0, "unclosed exists group inside filter")
            existsBodies += ((posEx, raw.slice(ebi + 1, eclose)))
            rk = eclose + 1
          } else { restB += raw(rk); rk += 1 }
        }
        var rest = restB.result()
        if (hadExists) {
          require(!rest.contains("||"),
            "|| does not compose with exists inside a filter — use separate filters")
          // strip separators that adjoined the lifted terms: dangling
          // ends first, then doubled mid-expression &&
          rest = rest.dropWhile(_ == "&&").reverse.dropWhile(_ == "&&").reverse
            .foldLeft(Vector.empty[String]) {
              case (acc, "&&") if acc.lastOption.contains("&&") => acc
              case (acc, t) => acc :+ t
            }
        }
        if (rest.nonEmpty) {
          val groups = splitOn(rest, "||").map(splitOn(_, "&&"))
          filterExprs += groups.map(_.map(toCmp))
        }
        i = close + 1
      } else {
        required += tokens(i)
        i += 1
      }
    }
    // SEQUENCE property paths (SPARQL 1.1): `$a p1/p2 $b` rewrites to
    // `$a p1 $__path_k . $__path_k p2 $b` with a fresh hidden variable
    // per step boundary. Only non-IRI predicates split on '/' — an IRI
    // like http://g.test/knows keeps its slashes. Transitive `p+`
    // steps pass through and compile to a closure in Bgp.
    var pathSeq = 0
    val pathVars = Vector.newBuilder[String]
    def freshPathVar(): String = {
      pathSeq += 1; val v = s"__path_$pathSeq"; pathVars += v; s"$$$v"
    }
    // `p{n,}` unbounded quantifiers rewrite to existing machinery:
    // {0,} is `p*`, {1,} is `p+`, and {n,} (n ≥ 2) is the exact
    // (n-1)-hop prefix into a hidden midpoint followed by `p+` — so
    // bound-endpoint dispatch still applies per stage
    def expandUnbounded(p: Seq[String]): Seq[Seq[String]] = p match {
      case Seq(s0, Sparql.UnboundedQuantRe(base, nStr), o0) =>
        nStr.toInt match {
          case 0 => Seq(Seq(s0, base + "*", o0))
          case 1 => Seq(Seq(s0, base + "+", o0))
          case n =>
            val mid = freshPathVar()
            Seq(Seq(s0, s"$base{${n - 1}}", mid), Seq(mid, base + "+", o0))
        }
      case other => Seq(other)
    }
    def expandPaths(pats: Seq[Seq[String]]): Seq[Seq[String]] = pats.flatMap { p =>
      // malformed (non-3-token) patterns pass through untouched so
      // parsePatterns rejects them with the documented arity error —
      // reading p(1) first would crash with an opaque IndexOutOfBounds
      if (p.length == 3 && Sparql.sequencePath(p(1))) {
        val steps = p(1).split("/").toSeq
        require(steps.forall(_.nonEmpty), s"bad property path: ${p(1)}")
        val mids = steps.init.map(_ => freshPathVar())
        val nodes = (p(0) +: mids) :+ p(2)
        steps.zipWithIndex.map { case (st, i) => Seq(nodes(i), st, nodes(i + 1)) }
      } else Seq(p)
    }.flatMap(p => if (p.length == 3) expandUnbounded(p) else Seq(p))
    val requiredPats = expandPaths(toPatterns(required.result()))
    val optPats = optGroups.result().map(g => expandPaths(toPatterns(g)))
    val minusPats = minusBodies.result().map(g => expandPaths(toPatterns(g)))
    val existsPats = existsBodies.result().map { case (pos, g) =>
      (pos, expandPaths(toPatterns(g)))
    }
    val graphPats = graphItems.result().map { case (t, g) =>
      (t, expandPaths(toPatterns(g)))
    }
    // variables local to minus/exists groups, plus unselected bind
    // outputs, are legal solution variables — declare them hidden so
    // validation accepts them without projecting them
    val declaredStripped =
      declaredVars.map(v => if (v.startsWith("$")) v.substring(1) else v)
    val groupLocalVars = ((minusPats ++ existsPats.map(_._2)).flatten.flatten ++
      bindItems.result().map(_._3))
      .filter(t => t.startsWith("$") && t.length > 1).map(_.substring(1))
      .distinct.filterNot(declaredStripped.contains)
    val hiddenExtra = pathVars.result() ++ groupLocalVars
    val base = Sparql().select(declaredVars ++ hiddenExtra)
      .copy(hiddenVars = hiddenExtra)
      .filter(requiredPats)
    val withOpt = optPats.foldLeft(base)((q, g) => q.optional(g))
      .copy(subqueries = subqueryBodies.result().map(parse))
    val withGraphs = graphPats.foldLeft(withOpt) {
      case (q, (t, g)) => q.graph(t, g)
    }
    val withMinus = minusPats.foldLeft(withGraphs)((q, g) => q.minus(g))
    val withExists = existsPats.foldLeft(withMinus) {
      case (q, (pos, g)) => q.exists(pos, g)
    }
    val withValues = valuesItems.result().foldLeft(withExists) {
      case (q, (v, vals)) => q.values(v, vals)
    }
    val withMultiValues = multiValuesItems.result().foldLeft(withValues) {
      case (q, (vs, rows)) => q.valuesTable(vs, rows)
    }
    val withBinds = bindItems.result().foldLeft(withMultiValues) {
      case (q, (fn, in, out)) => q.bind(fn, in, out)
    }
    val withFilters = filterExprs.result().foldLeft(withBinds) {
      // a single bare comparison stays on the legacy conjunctive list
      // (back-compat for callers inspecting q.constraints)
      case (q, Seq(Seq((l, op, r)))) => q.constraint(l, op, r)
      case (q, groups)               => q.constraintOr(groups)
    }
    val withDistinct =
      (if (hasDistinct) withFilters.copy(distinctKeyword = true) else withFilters)
        .copy(fromGraphs = fromG.result(), fromNamedGraphs = fromNamed.result())
    val withAggs = aggItems.foldLeft(withDistinct) {
      case (q, (fn, v, alias)) => q.aggregate(fn, v, alias)
    }
    val parsed = parseModifiers(withAggs, modifierToks)
    if (parsed.aggs.nonEmpty) {
      require(parsed.groupKeys.nonEmpty || plainVars.isEmpty,
        "aggregates alongside plain select variables need a group by")
      require(plainVars.map(_.substring(1)).toSet == parsed.groupKeys.toSet,
        "group by must list exactly the non-aggregated select variables")
    } else require(parsed.groupKeys.isEmpty, "group by requires an aggregate in select")
    parsed
  }

  /** `order by $v [asc|desc] … limit N` after the where block. */
  private def parseModifiers(q0: Sparql, toks: Seq[String]): Sparql = {
    // every parse error here is IllegalArgumentException (the contract
    // the fail-fast tests pin) — including a non-integer count
    def intTok(kw: String, t: String): Int =
      try t.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$kw expects an integer, got $t")
      }
    var q = q0
    var i = 0
    while (i < toks.length) {
      toks(i).toLowerCase match {
        case "order" =>
          require(i + 1 < toks.length && toks(i + 1).equalsIgnoreCase("by"),
            "order must be followed by 'by'")
          i += 2
          var any = false
          while (i < toks.length &&
              (toks(i).startsWith("$") || Sparql.aggAlias(toks(i)).isDefined)) {
            val v = toks(i)
            i += 1
            val asc =
              if (i < toks.length && toks(i).equalsIgnoreCase("desc")) { i += 1; false }
              else if (i < toks.length && toks(i).equalsIgnoreCase("asc")) { i += 1; true }
              else true
            q = q.orderBy((v, asc))
            any = true
          }
          require(any, "order by needs at least one $variable or aggregate")
        case "limit" =>
          require(i + 1 < toks.length, "limit needs a count")
          q = q.limit(intTok("limit", toks(i + 1)))
          i += 2
        case "offset" =>
          require(i + 1 < toks.length, "offset needs a count")
          q = q.offset(intTok("offset", toks(i + 1)))
          i += 2
        case "group" =>
          require(i + 1 < toks.length && toks(i + 1).equalsIgnoreCase("by"),
            "group must be followed by 'by'")
          i += 2
          val keys = Vector.newBuilder[String]
          while (i < toks.length && toks(i).startsWith("$")) {
            keys += toks(i); i += 1
          }
          val ks = keys.result()
          require(ks.nonEmpty, "group by needs at least one $variable")
          q = q.groupBy(ks)
        case "having" =>
          // standalone parens (like the grammar line documents), with
          // &&-conjunction: having ( count($c) >= 65 && sum($q) < 900 )
          require(i + 1 < toks.length && toks(i + 1) == "(",
            "having must be `having ( fn($v) op value [&& …] )` with spaced parens")
          val close = toks.indexOf(")", i + 2)
          require(close > i + 2, "unclosed having")
          val body = toks.slice(i + 2, close)
          val groups = {
            val out = Vector.newBuilder[Seq[String]]
            var cur = Vector.newBuilder[String]
            body.foreach { t =>
              if (t == "&&") { out += cur.result(); cur = Vector.newBuilder }
              else cur += t
            }
            out += cur.result(); out.result()
          }
          groups.foreach { c =>
            require(c.length == 3,
              s"having term must be `fn($$v) op value`, got: ${c.mkString(" ")}")
            q = q.having(c(0), c(1), c(2))
          }
          i = close + 1
        case other =>
          throw new IllegalArgumentException(
            s"unexpected token after where block: $other")
      }
    }
    q
  }

  /** ASK query form (SPARQL 1.1): `ask where { …patterns… }` — does at
    * least one solution exist? Parses to a [[Sparql]] selecting every
    * variable the body mentions; [[Bgp.ask]] evaluates it with LIMIT 1.
    */
  def parseAsk(q: String): Sparql = {
    val trimmed = q.trim
    require(trimmed.toLowerCase.startsWith("ask"),
      s"expected 'ask where {{ … }}', got: $q")
    val rest = trimmed.substring(3).trim
    require(rest.toLowerCase.startsWith("where"), "ask must be followed by where")
    // every body variable becomes a selected var (ASK has no projection)
    val bodyVars = rest.split("\\s+").toSeq
      .filter(t => t.startsWith("$") && t.length > 1)
      .map(_.stripSuffix(".")).distinct
    require(bodyVars.nonEmpty, "ask body must mention at least one variable")
    parse(s"select ${bodyVars.mkString(" ")} $rest")
  }

  /** CONSTRUCT query form (SPARQL 1.1): `construct { …template… }
    * where { …patterns… }` — instantiate the template triples once per
    * solution. Returns (template patterns, where-query); compile with
    * [[Bgp.construct]]. */
  def parseConstruct(q: String): (Seq[Seq[String]], Sparql) = {
    val trimmed = q.trim
    require(trimmed.toLowerCase.startsWith("construct"),
      s"expected 'construct {{ … }} where {{ … }}', got: $q")
    val rest = trimmed.substring(9).trim
    require(rest.startsWith("{"), "construct template must be braced")
    val close = rest.indexOf('}') // template block has no nesting
    require(close > 0, "unclosed construct template")
    val tmplToks = rest.substring(1, close).trim
      .split("\\s+").toSeq.filter(_.nonEmpty)
    // template patterns split on standalone/trailing dots like the body
    val tmpl = splitPatterns(tmplToks)
    tmpl.foreach(p => require(p.length == 3,
      s"construct template pattern must have 3 positions, got: ${p.mkString(" ")}"))
    val wherePart = rest.substring(close + 1).trim
    require(wherePart.toLowerCase.startsWith("where"),
      "construct template must be followed by where")
    // declare the template's variables as the projection of the where
    val tmplVars = tmpl.flatten
      .filter(t => t.startsWith("$") && t.length > 1).distinct
    require(tmplVars.nonEmpty, "construct template must mention a variable")
    (tmpl, parse(s"select ${tmplVars.mkString(" ")} $wherePart"))
  }

  /** DESCRIBE query form (SPARQL 1.1, simple-description semantics):
    * `describe <term>` — every triple the term participates in, as
    * subject or object. Returns the term value to filter on. */
  def parseDescribe(q: String): String = {
    val trimmed = q.trim
    require(trimmed.toLowerCase.startsWith("describe"),
      s"expected 'describe <term>', got: $q")
    val rest = trimmed.substring(8).trim
    require(rest.nonEmpty && !rest.contains(' '),
      s"describe takes exactly one term, got: $rest")
    require(!rest.startsWith("$"), "describe takes a concrete term, not a variable")
    QueryUnit.parse(rest) match {
      case QVal(v, _) => v
      case _          => throw new IllegalArgumentException(s"bad describe term: $rest")
    }
  }

  /** Split a token stream into triple patterns at standalone or
    * trailing dots (the same convention as the query body — dots
    * inside values survive). */
  private[query] def splitPatterns(toks: Seq[String]): Seq[Seq[String]] =
    toks.foldLeft(Vector(Vector.empty[String])) {
      case (acc, ".") => acc :+ Vector.empty
      case (acc, tok) =>
        val (t, closes) =
          if (tok.length > 1 && tok.endsWith(".")) (tok.dropRight(1), true)
          else (tok, false)
        val grown = acc.init :+ (acc.last :+ t)
        if (closes) grown :+ Vector.empty else grown
    }.map(_.toSeq).filter(_.nonEmpty)

  /** SPARQL 1.1 Update front-end (the reference's mutation surface —
    * insert_triple/remove_triple, graph.rs:414-629 — behind standard
    * syntax). Supported forms:
    *
    *   insert data { s p o . … }        — concrete triples only
    *   delete data { s p o . … }        — concrete triples only
    *   delete where { …patterns… }      — delete every instantiation of
    *                                      the patterns for each solution
    *   insert { …template… } where { …patterns… }
    *
    * Terms use the pattern syntax (`<x>` IRI, `"x"` literal, `_:x`
    * blank). In the DATA forms (insert data / delete data) a bare
    * token is an IRI, like the reference's coercion. In `delete
    * where`, patterns keep full PATTERN semantics: a bare value
    * matches any term kind by lexical value, and the executor deletes
    * exactly what each pattern matched. Execute with
    * `TripleStore.update`. */
  def parseUpdate(q: String): UpdateOp = {
    val trimmed = q.trim
    val lower = trimmed.toLowerCase
    def block(s: String): (Seq[Seq[String]], String) = {
      val t = s.trim
      require(t.startsWith("{"), s"expected a braced block, got: $t")
      // quote-aware close scan (update blocks have no brace nesting,
      // but a quoted literal may contain '}' — `insert data { <s> <p>
      // "a}b" }` must not truncate mid-literal)
      val close = {
        var ci = 0
        var found = -1
        var inQ = false
        while (ci < t.length && found < 0) {
          t.charAt(ci) match {
            case '\\' if inQ => ci += 1 // skip the escaped char
            case '"'         => inQ = !inQ
            case '}' if !inQ => found = ci
            case _           => ()
          }
          ci += 1
        }
        require(!inQ, s"unterminated string literal in update block: $t")
        found
      }
      require(close > 0, "unclosed block in update")
      val toks = t.substring(1, close).trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val pats = splitPatterns(toks)
      require(pats.nonEmpty, "empty update block")
      pats.foreach(p => require(p.length == 3,
        s"update triple must have 3 positions, got: ${p.mkString(" ")}"))
      (pats, t.substring(close + 1).trim)
    }
    def requireConcrete(pats: Seq[Seq[String]], form: String): Unit =
      pats.flatten.foreach(t => require(!t.startsWith("$"),
        s"$form takes concrete triples, got variable $t"))
    // graph names accept `<iri>` or bare tokens (the store's untyped-
    // name convention); variables are rejected
    def gname(tok: String): String = QueryUnit.parse(tok) match {
      case QVal(v, _) => v
      case other => throw new IllegalArgumentException(
        s"graph name must be concrete, got: $other")
    }
    // `{ graph <g> { triples } }` quad form of the data blocks (§3.1):
    // returns (graph, patterns) when the body is graph-wrapped
    def quadBlock(s: String): Option[(String, Seq[Seq[String]])] = {
      val t = s.trim
      require(t.startsWith("{"), s"expected a braced block, got: $t")
      val inner = t.substring(1).trim
      // the GRAPH keyword needs a token boundary — a subject that just
      // begins with "graph" (graphite, graphql) is a plain triple
      val isGraphKw = inner.length > 5 &&
        inner.substring(0, 5).equalsIgnoreCase("graph") &&
        (inner(5).isWhitespace || inner(5) == '<')
      if (!isGraphKw) None
      else {
        val afterG = inner.substring(5).trim
        val name = afterG.takeWhile(c => !c.isWhitespace && c != '{')
        require(name.nonEmpty, "graph block needs a graph name")
        val (pats, tail) = block(afterG.substring(name.length))
        require(tail == "}", s"graph data block must close the outer brace, got: $tail")
        Some((gname(name), pats))
      }
    }
    // §3.2 graph management + §3.1.4 LOAD: keyword forms, no blocks
    def parseGraphMgmt(s: String): UpdateOp = {
      val toks = s.split("\\s+").toSeq.filter(_.nonEmpty)
      val verb = toks.head.toLowerCase
      var i = 1
      val silent = i < toks.length && toks(i).equalsIgnoreCase("silent")
      if (silent) i += 1
      def ref(): GraphRef = {
        require(i < toks.length, s"$verb needs a graph operand")
        toks(i).toLowerCase match {
          case "graph" =>
            require(i + 1 < toks.length, s"$verb graph needs a name")
            val r = GraphRef.Named(gname(toks(i + 1))); i += 2; r
          case "default" => i += 1; GraphRef.Default
          case "named"   => i += 1; GraphRef.AllNamed
          case "all"     => i += 1; GraphRef.All
          // bare-name shorthand (the store's untyped-name convention)
          case _ => val r = GraphRef.Named(gname(toks(i))); i += 1; r
        }
      }
      def done(): Unit = require(i == toks.length,
        s"unexpected tokens after $verb: ${toks.drop(i).mkString(" ")}")
      verb match {
        case "create" =>
          val t = ref()
          require(t.isInstanceOf[GraphRef.Named], "create takes `graph <name>`")
          done()
          UpdateOp.GraphMgmt("create", silent, t)
        case "clear" | "drop" =>
          val t = ref(); done()
          UpdateOp.GraphMgmt(verb, silent, t)
        case "add" | "copy" | "move" =>
          val src = ref()
          require(i < toks.length && toks(i).equalsIgnoreCase("to"),
            s"$verb needs `to` between its operands")
          i += 1
          val dst = ref(); done()
          Seq(src, dst).foreach(r => require(
            r.isInstanceOf[GraphRef.Named] || r == GraphRef.Default,
            s"$verb operands must be `graph <name>` or `default`, got: $r"))
          UpdateOp.GraphMgmt(verb, silent, src, Some(dst))
        case "load" =>
          require(i < toks.length, "load needs a source path")
          val src = gname(toks(i)); i += 1
          val into = if (i < toks.length) {
            require(toks(i).equalsIgnoreCase("into") &&
              i + 1 < toks.length && toks(i + 1).equalsIgnoreCase("graph") &&
              i + 2 < toks.length,
              "load target must be `into graph <name>`")
            val g = gname(toks(i + 2)); i += 3; Some(g)
          } else None
          done()
          UpdateOp.Load(silent, src, into)
        case other => throw new IllegalArgumentException(
          s"unsupported update verb: $other")
      }
    }
    if (lower.startsWith("insert data")) {
      quadBlock(trimmed.substring(11)) match {
        case Some((g, pats)) =>
          requireConcrete(pats, "insert data")
          UpdateOp.InsertData(pats, Some(g))
        case None =>
          val (pats, rest) = block(trimmed.substring(11))
          require(rest.isEmpty, s"unexpected tokens after insert data block: $rest")
          requireConcrete(pats, "insert data")
          UpdateOp.InsertData(pats)
      }
    } else if (lower.startsWith("delete data")) {
      quadBlock(trimmed.substring(11)) match {
        case Some((g, pats)) =>
          requireConcrete(pats, "delete data")
          UpdateOp.DeleteData(pats, Some(g))
        case None =>
          val (pats, rest) = block(trimmed.substring(11))
          require(rest.isEmpty, s"unexpected tokens after delete data block: $rest")
          requireConcrete(pats, "delete data")
          UpdateOp.DeleteData(pats)
      }
    } else if (lower.startsWith("create") || lower.startsWith("clear") ||
        lower.startsWith("drop") || lower.startsWith("add") ||
        lower.startsWith("copy") || lower.startsWith("move") ||
        lower.startsWith("load")) {
      parseGraphMgmt(trimmed)
    } else if (lower.startsWith("delete where")) {
      val (pats, rest) = block(trimmed.substring(12))
      require(rest.isEmpty, s"unexpected tokens after delete where block: $rest")
      UpdateOp.DeleteWhere(pats)
    } else if (lower.startsWith("insert")) {
      val (tmpl, rest) = block(trimmed.substring(6))
      require(rest.toLowerCase.startsWith("where"),
        "insert template must be followed by where { … }")
      val (pats, tail) = block(rest.substring(5))
      require(tail.isEmpty, s"unexpected tokens after insert where block: $tail")
      val bodyVars = pats.flatten.filter(_.startsWith("$")).toSet
      tmpl.flatten.filter(_.startsWith("$")).foreach(v =>
        require(bodyVars.contains(v),
          s"insert template variable $v is bound by no where pattern"))
      UpdateOp.InsertWhere(tmpl, pats)
    } else throw new IllegalArgumentException(
      "expected insert data / delete data / delete where / insert…where / " +
        s"create / clear / drop / add / copy / move / load, got: $q")
  }

  /** Parse a query whose where-body is a top-level alternation:
    *   select $v … where { { …patterns… } union { …patterns… } … }
    * Returns one [[Sparql]] per alternative (all sharing the select
    * list); evaluate with [[Bgp.compileUnion]]. A body without
    * top-level `union` yields a single-element result. */
  def parseUnion(q: String): Seq[Sparql] = {
    val lower = q.trim
    val si = lower.toLowerCase.indexOf("select")
    val wi = lower.toLowerCase.indexOf("where")
    require(si == 0 && wi > 0, s"expected 'select … where {{ … }} …', got: $q")
    val selectPart = lower.substring(0, wi)
    val body = lower.substring(wi + 5).trim
    require(body.startsWith("{") && body.endsWith("}"), "where clause must be braced")
    val inner = body.substring(1, body.length - 1).trim
    if (!inner.startsWith("{")) return Seq(parse(q))
    // split "{ A } union { B } union { C }" at brace depth 0
    val groups = Vector.newBuilder[String]
    var depth = 0
    var start = -1
    var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '{' => if (depth == 0) start = i + 1; depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) { groups += inner.substring(start, i); start = -1 }
        case _ => ()
      }
      i += 1
    }
    require(depth == 0, "unbalanced braces in union body")
    groups.result().map(g => parse(s"$selectPart where { $g }"))
  }
}

sealed trait QueryUnit
final case class QVal(value: String, kind: Option[String] = None) extends QueryUnit
final case class QVar(name: String) extends QueryUnit
/** A term-accessor application `fn($var)` used as a FILTER comparison
  * operand (SPARQL §17.4: `str`/`lang`/`datatype`). Only
  * [[Sparql.parseComparison]] constructs these, so pattern positions
  * never see one. */
final case class QFn(fn: String, arg: String) extends QueryUnit

/** A parsed SPARQL 1.1 Update request (see [[Sparql.parseUpdate]]).
  * Patterns/templates stay raw token triples — the executor
  * ([[graft.store.TripleStore.update]]) parses data terms with
  * [[QueryUnit.term]]. */
sealed trait UpdateOp
object UpdateOp {
  final case class InsertData(
      triples: Seq[Seq[String]], graph: Option[String] = None) extends UpdateOp
  final case class DeleteData(
      triples: Seq[Seq[String]], graph: Option[String] = None) extends UpdateOp
  final case class DeleteWhere(patterns: Seq[Seq[String]]) extends UpdateOp
  final case class InsertWhere(
      template: Seq[Seq[String]], patterns: Seq[Seq[String]]) extends UpdateOp
  /** Graph management (SPARQL 1.1 Update §3.2): CREATE/CLEAR/DROP take
    * one target; ADD/COPY/MOVE take source and destination. Executed
    * by [[graft.store.QuadStore.update]] — a triple store has no named
    * graphs and fails fast. */
  final case class GraphMgmt(verb: String, silent: Boolean,
      target: GraphRef, dest: Option[GraphRef] = None) extends UpdateOp
  /** LOAD <source> [INTO GRAPH <g>] (§3.1.4): read an RDF document
    * from a path/URI into the default or a named graph. */
  final case class Load(silent: Boolean, source: String,
      into: Option[String]) extends UpdateOp
}

/** A graph operand in a §3.2 management operation. */
sealed trait GraphRef
object GraphRef {
  final case class Named(name: String) extends GraphRef
  case object Default extends GraphRef
  /** Every named graph (CLEAR/DROP NAMED). */
  case object AllNamed extends GraphRef
  /** Default plus every named graph (CLEAR/DROP ALL). */
  case object All extends GraphRef
}

object QueryUnit {
  /** Kind tags for TYPED pattern values (round-3 verdict #9): a bare
    * value matches any term with that lexical value — the documented
    * round-1 divergence from the reference's coerce-to-IRI bug
    * (graph.rs:338-344) — while the typed syntaxes restrict by kind so
    * the IRI `alice` and the literal `"alice"` are distinguishable. */
  val Iri = "iri"
  val Lit = "lit" // matches raw, lang-tagged, and typed literals by lexical value
  val Blank = "blank"

  /** `$x` → variable x (reference query.rs:8-25); `<x>` → IRI-typed
    * value; `"x"` → literal-typed value; `_:x` → blank-typed value;
    * anything else → untyped value (matches any kind by value). */
  def parse(s: String): QueryUnit =
    if (s.startsWith("$")) QVar(s.substring(1))
    else if (s.length >= 2 && s.startsWith("<") && s.endsWith(">"))
      QVal(s.substring(1, s.length - 1), Some(Iri))
    else if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\""))
      QVal(s.substring(1, s.length - 1), Some(Lit))
    else if (s.startsWith("_:")) QVal(s.substring(2), Some(Blank))
    else QVal(s)

  /** Data token → term, for update data blocks and CONSTRUCT templates:
    * bare tokens are IRIs (these are DATA, not patterns — same coercion
    * as the reference's loader); `"x"` is a plain literal, `_:x` a
    * blank node. */
  def term(v: QVal): RdfTerm = v.kind match {
    case Some(Lit)   => RdfTerm.raw(v.value)
    case Some(Blank) => RdfTerm.blank(v.value)
    case _           => RdfTerm.named(v.value)
  }
}

/** Generic conjunctive basic-graph-pattern compiler over any DataFrame
  * with columns (s, p, o). This is the rebuild of the reference's entire
  * query engine (`Graph::get` + the 8 access paths, graph.rs:333-1009):
  * bound positions become pushed-down filters — Catalyst's predicate
  * pushdown plus parquet partition pruning on `p` subsume the 8-way
  * access-path dispatch — and shared variables become equi-joins.
  *
  * The term shape comes from the input's schema ([[Term]]): a string
  * column is a lexical value with no kind, so typed patterns and the
  * `is*` filters fail fast on it; a struct column matches by its
  * `value` field, and by kind too when it has a `kind` field — the
  * `Dataset[Triple]` term structs, or any view with that field.
  */
object Bgp {
  private val positions = Seq("s", "p", "o")

  /** Bound-endpoint closures widen their hop relation until it exceeds
    * this multiple of the predicate's edge count (see pathDf). */
  val HopBudgetFactor: Long = 4L

  /** A term column read by its data type — the one place that decides
    * how a pattern position, a FILTER operand or a template constant
    * meets a term. A string column is a lexical value with no kind. A
    * struct column is matched by its `value` field; when it also has
    * `kind`, typed patterns and the `is*` filters are legal on it. */
  final case class Term(c: Column, dt: DataType) {
    private val fields: Set[String] = dt match {
      case st: StructType => st.fieldNames.toSet
      case _              => Set.empty
    }

    /** A struct field; a column without it fails fast. */
    def field(f: String, use: => String): Column = {
      require(fields(f), s"$use requires a term struct with a '$f' field")
      c.getField(f)
    }

    /** The lexical value: the column itself, or the struct's `value`. */
    def value: Column =
      if (dt.isInstanceOf[StructType]) field("value", "term matching") else c

    def kindAware: Boolean = fields("kind")

    /** The term kind; a kind-less column fails fast. */
    def kind(use: => String): Column = {
      require(kindAware, s"$use requires a kind-aware store")
      c.getField("kind")
    }

    /** The typed-syntax rule ([[QueryUnit.parse]]): `<x>` is an IRI,
      * `_:x` a blank node, `"x"` any literal kind. */
    def isKind(k: String, use: => String): Column = k match {
      case QueryUnit.Iri   => kind(use) === RdfTerm.Named
      case QueryUnit.Blank => kind(use) === RdfTerm.Blank
      case QueryUnit.Lit   => kind(use).isin(RdfTerm.LiteralKinds: _*)
    }

    /** A pattern value matched here: by lexical value, plus the kind
      * rule when the value is typed. */
    def matches(v: QVal): Column =
      v.kind.foldLeft(value === lit(v.value))((m, k) => m && isKind(k, s"typed pattern (kind=$k)"))

    /** A template constant in this column's shape: the value itself on
      * a string column; on a struct column, [[QueryUnit.term]]'s term
      * restricted to the column's fields. */
    def constant(v: QVal): Column = dt match {
      case st: StructType =>
        // the data mapping yields no lang or datatype, so both stay null
        val t = RdfTerm.column(QueryUnit.term(v).kind, lit(v.value))
        struct(st.fieldNames.toSeq.map(f => t.getField(f).as(f)): _*)
      case _ => lit(v.value)
    }
  }

  object Term {
    def apply(df: DataFrame, name: String): Term = Term(df(name), df.schema(name).dataType)
  }

  /** True when `q`'s solutions over a SET of triples are distinct
    * without a `distinct`, so a caller whose input is a set (a
    * [[graft.store.TripleStore]]) passes `distinct = false` to
    * [[compile]]. It holds when `q` is plain triple patterns plus
    * FILTER, ORDER BY, LIMIT and OFFSET, and nothing else; every
    * constant is an exact term (`<x>` or `_:x`, one term each, since
    * IRIs and blank nodes carry no lang or datatype); and every pattern
    * variable is projected. Then each pattern maps distinct triples to
    * distinct rows, a join of sets that keeps every column is a set,
    * and filters and slices only drop rows. A bare `x` or a `"x"`
    * matches several terms with one value, so two triples can project
    * to one row, and the `distinct` stays. */
  def distinctOverSet(q: Sparql): Boolean = {
    val plain = Sparql(q.vars, q.conds, constraints = q.constraints,
      disjunctions = q.disjunctions, orderKeys = q.orderKeys, limitN = q.limitN,
      offsetN = q.offsetN)
    val units = q.conds.flatMap(c => Seq(c._1, c._2, c._3))
    q == plain && units.forall {
      case QVar(n)    => q.vars.contains(n)
      case QVal(_, k) => k.contains(QueryUnit.Iri) || k.contains(QueryUnit.Blank)
      case _          => false
    }
  }

  def compile(triples: DataFrame, q: Sparql, distinct: Boolean = true): DataFrame = {
    require(q.conds.nonEmpty || q.graphGroups.nonEmpty || q.subqueries.nonEmpty,
      "empty BGP")

    // SPARQL dataset clauses (§13.2) slice the quad view up front:
    // `data` is what non-GRAPH patterns (and subqueries) see, `named`
    // is what GRAPH groups range over. With either clause present the
    // dataset is exactly what was listed — FROM-only leaves no named
    // graphs, FROM-NAMED-only leaves an empty default graph.
    if (q.fromGraphs.nonEmpty || q.fromNamedGraphs.nonEmpty)
      require(triples.columns.contains("g"),
        "FROM / FROM NAMED require a quad (g, s, p, o) view")
    val data =
      if (q.fromGraphs.nonEmpty) triples.filter(triples("g").isin(q.fromGraphs: _*))
      else if (q.fromNamedGraphs.nonEmpty) triples.filter(lit(false))
      else triples
    val named =
      if (q.fromNamedGraphs.nonEmpty)
        triples.filter(triples("g").isin(q.fromNamedGraphs: _*))
      else if (q.fromGraphs.nonEmpty) triples.filter(lit(false))
      else triples

    /** Property path `base{nMin,nMax}`, nMax None = unbounded: `p+` is
      * {1,∞}, `p*` is {0,∞}, `p?` is {0,1} and `p{n,m}` passes through.
      * Dispatched on the BOUND POSITIONS of the pattern — the path
      * analogue of the reference's access-path dispatch
      * (graph.rs:842-853), which routes every pattern by what is bound
      * before touching data. A bound endpoint (`<seed> p+ $y` /
      * `$x p+ <seed>`) walks from the seed only (over reversed edges for
      * a bound object), so work per round is bounded by the seed's
      * reachable set, never the all-pairs closure — at 100 TB, one
      * node's lineage query must not pay for every pair in the graph.
      * Var-var composes the full edge relation.
      *
      * A finite nMax is a FIXED nMax−1 composition rounds (exactly-k hop
      * relations, unioned over k ≥ nMin): no termination probe, so every
      * round is a lazy checkpoint (plan cut, linear in m) and the
      * terminal action materializes the chain in one job. An unbounded
      * path runs on [[graft.Fixpoint.iterate]], one count per round, and
      * terminates on cycles (an empty round once every pair is known):
      *
      *  - var-var: DELTA-RESTRICTED POINTER DOUBLING. Round k+1 joins
      *    the reach set with only the pairs FIRST FOUND in round k
      *    (`all ⋈ delta`), minus known pairs. After round k every pair at
      *    distance ≤ 2^k is known, so ceil(log2(diameter)) rounds, vs the
      *    diameter under semi-naive, without `reach ⋈ reach`'s
      *    re-derivation of every known pair each round. Sketch: a pair
      *    at shortest distance D ∈ (2^k, 2^{k+1}] splits at the node m
      *    that is D−2^k from the start along a shortest path; then
      *    dist(a,m) ≤ 2^k (⇒ in reach) and dist(m,b) = exactly 2^k
      *    (⇒ first found in round k), so round k+1 finds it.
      *  - bound: frontier BFS over a HOP-WIDENED edge relation. Plain
      *    BFS pays one round per graph level (a depth-1000 lineage chain
      *    costs 1000), while doubling needs the all-pairs relation this
      *    dispatch avoids. So first square the hop relation (`all ∘ all`,
      *    width doubles per round, at most 64) while it stays within
      *    HopBudgetFactor× the edge count, then BFS with the widened hops.
      *    Deep/narrow graphs widen cheaply (a chain's ≤w-hop relation is
      *    ~w·|V| rows) and the BFS round count divides by the width;
      *    bushy graphs blow the budget on the first squaring — exactly
      *    where the diameter is already small. Every widened pair is a
      *    real path, so correctness never depends on the budget.
      *
      * nMin = 0 adds the zero-length part: every graph term — from both
      * positions of ALL triples, not just base edges (SPARQL 1.1 §9.3,
      * PropertyPathEval ZeroOrMorePath) — reaches itself; for a bound
      * endpoint only the seed does, iff it is a graph term.
      *
      * A path runs on the term columns themselves, by the one rule every
      * other pattern uses: its edges are the raw (s, o) columns of the
      * triples whose predicate [[Term.matches]] `base`, it composes,
      * deduplicates and seeds on those columns, and a bound endpoint is
      * found by [[Term.matches]]. So a path variable has the same type
      * as any other variable, and a typed endpoint is a typed pattern:
      * it fails fast on a kind-less view and checks the kind on a
      * kind-aware one, while a bare value matches every kind. */
    def pathDf(base: String, nMin: Int, nMax: Option[Int],
        su: QueryUnit, ou: QueryUnit): DataFrame = {
      require(nMax.forall(m => m >= nMin && m <= 16 && (m >= 1 || nMin == 0)),
        s"path quantifier must satisfy 0 <= n <= m <= 16, got {$nMin,${nMax.get}}")
      val edges = data
        .filter(Term(data, "p").matches(QVal(base)))
        .select(data("s").as("_a"), data("o").as("_b"))
        .distinct().localCheckpoint(false)
      def swap(df: DataFrame) = df.select(col("_b").as("_a"), col("_a").as("_b"))
      def compose(l: DataFrame, r: DataFrame) = l.toDF("_a", "_m")
        .join(r.toDF("_m", "_b"), "_m").select(col("_a"), col("_b"))
      val (seed, forward) = (su, ou) match {
        case (u: QVal, _) => (Some(u), true)
        case (_, u: QVal) => (Some(u), false)
        case _            => (None, true)
      }
      def seeded(df: DataFrame, end: String) =
        seed.fold(df)(u => df.filter(Term(df, end).matches(u)))
      // pairs joined by max(nMin, 1)..nMax hops over e, from the seed only
      def hops(e: DataFrame): DataFrame = nMax match {
        case Some(m) =>
          val ks = Iterator.iterate(seeded(e, "_a"))(f => compose(f, e).distinct().localCheckpoint(false))
            .take(m).drop(math.max(nMin, 1) - 1).toSeq
          if (ks.size == 1) ks.head else ks.reduce(_ union _).distinct()
        case None if seed.isEmpty =>
          Fixpoint.iterate(e, Int.MaxValue, Long.MaxValue)(
            (all, delta) => compose(all, delta).except(all))
        case None =>
          val hop = Fixpoint.iterate(e, 6, e.count() * Bgp.HopBudgetFactor)(
            (all, _) => compose(all, all).except(all))
          Fixpoint.iterate(seeded(hop, "_a"), Int.MaxValue, Long.MaxValue)(
            (all, delta) => compose(delta, hop).except(all))
      }
      def selfPairs = {
        val terms = data.select(data("s").as("_n")).union(data.select(data("o").as("_n")))
        seeded(terms, "_n").select(col("_n").as("_a"), col("_n").as("_b"))
      }
      // every hops result is duplicate-free; only the zero-length union needs a distinct
      val walked = Option.when(!nMax.contains(0))(
        if (forward) hops(edges) else swap(hops(swap(edges))))
      finishPairs(
        if (nMin > 0) walked.get else (walked.toSeq :+ selfPairs).reduce(_ union _).distinct(),
        su, ou)
    }

    /** [[pathDf]]'s tail over its (_a, _b) pair set: each bound endpoint
      * filtered by [[Term.matches]], then the variable projection. */
    def finishPairs(pairs: DataFrame, su: QueryUnit, ou: QueryUnit): DataFrame = {
      val df = Seq("_a" -> su, "_b" -> ou).foldLeft(pairs) {
        case (d, (end, u: QVal)) => d.filter(Term(d, end).matches(u))
        case (d, _)              => d
      }
      (su, ou) match {
        case (QVar(a), QVar(b)) if a == b =>
          df.filter(col("_a") === col("_b")).select(col("_a").as(a))
        case (QVar(a), QVar(b)) => df.select(col("_a").as(a), col("_b").as(b))
        case (QVar(a), _)       => df.select(col("_a").as(a))
        case (_, QVar(b))       => df.select(col("_b").as(b))
        case _                  => df.select()
      }
    }

    /** Path-operator dispatch on the predicate token. Only UNTYPED
      * non-IRI tokens carry path syntax — IRIs may legitimately contain
      * any of these characters, and the `<iri>` form escapes them:
      *   `a|b`  alternation — one IN-list scan when every branch is a
      *          plain predicate; union of branch evaluations otherwise
      *          (so `knows|^knows` gives the symmetric step)
      *   `^p`   inverse — evaluate p with subject/object swapped
      *   `p+`, `p*`, `p?`, `p{n,m}`  repetition — [[pathDf]] with
      *          {1,∞}, {0,∞}, {0,1} and {n,m} hops
      * Operators compose per sequence step: the parser's `/` rewrite
      * leaves each step token intact, so `^in_nation/in_region` works. */
    def patternDf(pat: (QueryUnit, QueryUnit, QueryUnit)): DataFrame = pat._2 match {
      // negated property set (SPARQL 1.1 §9.1 `!(p1|p2)`, here `!p1|p2`):
      // any predicate EXCEPT the listed ones — still ONE scan, the
      // NOT-IN pushes down like the positive alternation
      case QVal(p, None) if p.length > 1 && p.startsWith("!") &&
          !p.contains("://") && !p.substring(1).exists(c => "^+*?".contains(c)) =>
        val excluded = p.substring(1).split("\\|").toSeq
        require(excluded.forall(_.nonEmpty), s"bad negated property set: $p")
        plainPatternDf(pat, negPreds = Some(excluded))
      case QVal(p, None) if !p.contains("://") && p.contains("|") =>
        val branches = p.split("\\|").toSeq
        require(branches.forall(_.nonEmpty), s"bad path alternation: $p")
        if (branches.forall(b => !b.startsWith("^") && !b.endsWith("+") &&
            !b.endsWith("*") && !Sparql.PathQuantRe.matches(b)))
          plainPatternDf(pat, altPreds = Some(branches))
        else branches.map(b => patternDf((pat._1, QVal(b), pat._3)))
          .reduce(_.unionByName(_)).distinct()
      case QVal(p, None) if p.length > 1 && p.startsWith("^") && !p.contains("://") =>
        patternDf((pat._3, QVal(p.tail), pat._1))
      case QVal(p, None) if !p.contains("://") && Sparql.PathQuantRe.matches(p) =>
        val Sparql.PathQuantRe(base, nStr, mStr) = p
        require(!Sparql.pathSyntax(base),
          s"path quantifier needs a plain predicate base, got: $base")
        val n = nStr.toInt
        pathDf(base, n, Some(Option(mStr).map(_.toInt).getOrElse(n)), pat._1, pat._3)
      case QVal(p, None) if p.length > 1 && "+*?".contains(p.last) && !p.contains("://") =>
        val (nMin, nMax) = p.last match {
          case '+' => (1, None)
          case '*' => (0, None)
          case _   => (0, Some(1))
        }
        pathDf(p.dropRight(1), nMin, nMax, pat._1, pat._3)
      case _ => plainPatternDf(pat)
    }

    def plainPatternDf(pat: (QueryUnit, QueryUnit, QueryUnit),
        altPreds: Option[Seq[String]] = None,
        negPreds: Option[Seq[String]] = None,
        graphVar: Option[String] = None,
        over: DataFrame = data): DataFrame = {
      val units = Seq(pat._1, pat._2, pat._3)
      // filter bound positions by the term rule ([[Term.matches]]): a
      // TYPED value also constrains the kind, and fails fast on a
      // kind-less view rather than silently matching by value only
      var df = over
      units.zip(positions).foreach {
        case (v: QVal, pos) =>
          val t = Term(df, pos)
          // a plain alternation stays ONE scan: the branch list becomes
          // an IN filter on the predicate (pushes down like equality)
          df = df.filter(
            if (pos == "p" && altPreds.isDefined) t.value.isin(altPreds.get: _*)
            else if (pos == "p" && negPreds.isDefined) !t.value.isin(negPreds.get: _*)
            else t.matches(v))
        case _ => ()
      }
      // same variable twice in one pattern → positional equality
      val varPos = units.zip(positions).collect { case (QVar(n), pos) => (n, pos) }
      varPos.groupBy(_._1).values.filter(_.length > 1).foreach { dup =>
        dup.sliding(2).foreach {
          case Seq((_, p1), (_, p2)) => df = df.filter(df(p1) === df(p2))
          case _                     => ()
        }
      }
      // project variables, first occurrence wins; a variable-graph
      // pattern additionally carries its source graph
      val cols = varPos.distinctBy(_._1).map { case (n, pos) => df(pos).as(n) } ++
        graphVar.map(gv => df("g").as(gv))
      df.select(cols: _*)
    }

    def joinAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce { (l, rIn) =>
      val shared = l.columns.intersect(rIn.columns).toSeq
      // avoid ambiguous-column collisions on the non-join columns
      if (shared.nonEmpty) l.join(rIn, shared, "inner") else l.crossJoin(rIn)
    }

    /** GRAPH group evaluation over a quad view (SPARQL 1.1 datasets).
      * Bound graph: the group recurses into [[compile]] against that
      * graph's slice — one pushed-down filter on `g`, and every BGP
      * feature (paths/closures included) works inside. Variable graph:
      * each pattern also projects the quad's `g` column as the graph
      * variable, so the shared variable equi-joins pin all of the
      * group's patterns to ONE graph per solution; path operators are
      * rejected there (a per-graph closure would need the graph key
      * threaded through the iteration — fail fast rather than silently
      * closing across graphs). The graph column is a plain string by
      * contract (graph names carry no term kind). */
    def graphDf(t: QueryUnit, pats: Seq[(QueryUnit, QueryUnit, QueryUnit)]): DataFrame = {
      require(triples.columns.contains("g"),
        "graph groups require a quad (g, s, p, o) view")
      val groupVars = pats.flatMap(p => Seq(p._1, p._2, p._3))
        .collect { case QVar(n) => n }.distinct
      t match {
        case f: QFn => throw new IllegalArgumentException(
          s"graph term must be a name or variable, got accessor: $f")
        case QVal(v, _) =>
          compile(named.filter(named("g") === lit(v)),
            Sparql(vars = groupVars, conds = pats), distinct = false)
        case QVar(gv) =>
          def hasPathSyntax(u: QueryUnit): Boolean = u match {
            case QVal(p, None) => Sparql.pathSyntax(p)
            case _             => false
          }
          val parts = pats.map { p =>
            require(!hasPathSyntax(p._2),
              s"property paths are unsupported inside graph $$$gv groups")
            plainPatternDf(p, graphVar = Some(gv), over = named)
          }
          joinAll(parts)
      }
    }

    // subqueries (§12) evaluate independently — own projection,
    // aggregation and modifiers — and join the outer solution on their
    // PROJECTED variables only (inner-only variables never leak out,
    // because compile's projection already dropped them)
    val required = joinAll(q.conds.map(patternDf) ++
      q.graphGroups.map { case (t, pats) => graphDf(t, pats) } ++
      // subqueries share the outer query's default-graph dataset
      q.subqueries.map(sq => compile(data, sq, distinct)))
    // OPTIONAL groups: each compiles as its own mini-BGP and
    // left-joins on the variables it shares with the required part
    val joined = q.optionals.foldLeft(required) { (acc, group) =>
      val opt = joinAll(group.map(patternDf))
      val shared = acc.columns.intersect(opt.columns).toSeq
      require(shared.nonEmpty, "optional group shares no variable with the required patterns")
      acc.join(opt, shared, "left_outer")
    }
    // BIND: computed variables extend the solution row (before VALUES /
    // MINUS / filters, so all of those can reference the bound var)
    val bound = q.binds.foldLeft(joined) { case (acc, (fn, in, out)) =>
      // `in` is the comma-packed argument list ($-prefix = variable,
      // bare = literal — see Sparql.bind)
      val args = in.split(",").toSeq
      def col(a: String): Column =
        if (a.startsWith("$")) acc(a.substring(1)) else lit(a)
      val c = fn match {
        case "str"      => col(args.head)
        case "ucase"    => upper(col(args.head))
        case "lcase"    => lower(col(args.head))
        case "strlen"   => length(col(args.head)).cast("string")
        case "coalesce" => coalesce(args.map(col): _*)
        // SPARQL SUBSTR is 1-based like Spark's substring (§17.4.3.3)
        case "substr" =>
          substring(col(args.head), args(1).toInt, args(2).toInt)
        case "replace" =>
          regexp_replace(col(args.head), args(1), args(2))
        case "concat" => concat(args.map(col): _*)
        // STRBEFORE/STRAFTER (§17.4.3.4-5): "" when the separator does
        // not occur — NOT the whole string, so substring_index alone is
        // wrong on the miss side
        case "strbefore" =>
          val (c0, sep) = (col(args.head), args(1))
          when(locate(sep, c0) > 0, substring_index(c0, sep, 1)).otherwise(lit(""))
        case "strafter" =>
          val (c0, sep) = (col(args.head), args(1))
          when(locate(sep, c0) > 0,
            c0.substr(locate(sep, c0) + sep.length, length(c0))).otherwise(lit(""))
        // numeric promotion to double; terms that don't parse → null
        // (SPARQL type error). Division by zero is a type error too —
        // guarded, Spark doubles would give Infinity instead.
        case "arith" =>
          def num(a: String): Column =
            if (a.startsWith("$")) col(a).try_cast("double")
            else lit(a.toDouble)
          val (lo, ro) = (num(args.head), num(args(2)))
          val v = args(1) match {
            case "+" => lo + ro
            case "-" => lo - ro
            case "*" => lo * ro
            case "/" => when(ro =!= 0, lo / ro)
          }
          v.cast("string")
        case "if" => args.head match {
          case Sparql.BoundCondRe(neg, v) =>
            val cond = if (neg == "!") acc(v).isNull else acc(v).isNotNull
            when(cond, col(args(1))).otherwise(col(args(2)))
          case other => throw new IllegalArgumentException(
            s"if() condition must be [!]bound($$v), got: $other")
        }
        // numeric built-ins (§17.4.4): promote to double, terms that
        // don't parse → null (type error). ROUND ties go toward +∞ per
        // spec (floor(x+0.5)) — NOT Spark's HALF_UP, which rounds
        // -2.5 away from zero to -3 where SPARQL requires -2.
        case "abs" | "round" | "ceil" | "floor" =>
          val v = col(args.head).try_cast("double")
          val r = fn match {
            case "abs"   => abs(v)
            case "round" => floor(v + 0.5).cast("double")
            case "ceil"  => ceil(v).cast("double")
            case "floor" => floor(v).cast("double")
          }
          r.cast("string")
        // ENCODE_FOR_URI (§17.4.3.4): percent-encode everything except
        // RFC 3986 unreserved [A-Za-z0-9_.~-]. Spark's url_encode is
        // form-encoding, so fix up its three divergences (space→'+'
        // must be %20, '*' must encode, '~' must NOT) instead of
        // dropping to a UDF.
        case "encode_for_uri" =>
          val enc = url_encode(col(args.head))
          regexp_replace(regexp_replace(
            regexp_replace(enc, "\\+", "%20"), "\\*", "%2A"), "%7E", "~")
        // hash built-ins (§17.4.6): lowercase hex over the lexical
        // form — all codegen'd Catalyst expressions, no UDF
        case "md5"    => md5(col(args.head))
        case "sha1"   => sha1(col(args.head))
        case "sha256" => sha2(col(args.head), 256)
        case "sha384" => sha2(col(args.head), 384)
        case "sha512" => sha2(col(args.head), 512)
        // datetime accessors (§17.4.5) over xsd:date/dateTime lexical
        // forms; non-datetime terms → null (type error). SECONDS
        // returns the integral part (xsd:decimal fractions are out of
        // scope for the string front-end's term invariant).
        case "year" | "month" | "day" | "hours" | "minutes" | "seconds" =>
          val ts = col(args.head).try_cast("timestamp")
          val v = fn match {
            case "year"    => year(ts)
            case "month"   => month(ts)
            case "day"     => dayofmonth(ts)
            case "hours"   => hour(ts)
            case "minutes" => minute(ts)
            case "seconds" => second(ts)
          }
          v.cast("string")
        // term constructors (§17.4.2.5-7): build a 4-field term struct
        // from the operand's LEXICAL form (the value field when the
        // operand is already a struct term). The result feeds the
        // accessor/filter machinery — lang()/datatype()/isiri()/
        // sameterm() — exactly like a pattern-bound term.
        case "strdt" | "strlang" | "iri" | "bnode" =>
          def lex(a: String): Column =
            if (a.startsWith("$")) Term(acc, a.substring(1)).value else lit(a)
          val v = lex(args.head)
          fn match {
            case "iri"     => RdfTerm.column(RdfTerm.Named, v)
            case "bnode"   => RdfTerm.column(RdfTerm.Blank, v)
            case "strlang" => RdfTerm.column(RdfTerm.Lang, v, lang = lex(args(1)))
            case "strdt"   => RdfTerm.column(RdfTerm.Typed, v, datatype = lex(args(1)))
          }
        case other => throw new IllegalArgumentException(
          s"unsupported bind function: $other")
      }
      acc.withColumn(out, c)
    }
    // VALUES: an enumerated term set compiles to an IN filter — pushes
    // down to the scan like an equality (a very large inline table
    // would instead broadcast-join, but VALUES lists are small by use)
    val valued = q.valuesClauses.foldLeft(bound) { case (acc, (v, vals)) =>
      require(acc.columns.contains(v), s"values variable $$$v is bound by no pattern")
      acc.filter(acc(v).isin(vals: _*))
    }
    // multi-variable VALUES (§10.2): the row set is an inline table the
    // solution SEMI-joins against on all listed variables — the
    // driver-side table broadcasts (the one case the no-broadcast-hint
    // rule exempts: literal query text, never data-derived), so the
    // solution side never shuffles for it
    val multiValued = q.multiValuesClauses.foldLeft(valued) { case (acc, (vs, rows)) =>
      vs.foreach(v => require(acc.columns.contains(v),
        s"values variable $$$v is bound by no pattern"))
      if (rows.exists(_.exists(_.isEmpty))) {
        // UNDEF cells (§10.2, the typed None sentinel resolved at
        // parse/build time): an unbound cell constrains nothing, so
        // the row set compiles to an OR of per-row AND conjunctions —
        // a plain filter Catalyst can push down; a row of ALL undef
        // cells is compatible with every solution (lit(true)). The
        // set semantics stay intact: a solution matching several rows
        // still appears once (filter, not join).
        val cond = rows.map { r =>
          vs.zip(r)
            .collect { case (v, Some(value)) => acc(v) === lit(value) }
            .reduceOption(_ && _).getOrElse(lit(true))
        }.reduce(_ || _)
        acc.filter(cond)
      } else {
        val spark = acc.sparkSession
        val schema = org.apache.spark.sql.types.StructType(vs.map(v =>
          org.apache.spark.sql.types.StructField(v, org.apache.spark.sql.types.StringType)))
        import scala.jdk.CollectionConverters._
        val tbl = spark.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r.map(_.get))).asJava, schema)
        acc.join(broadcast(tbl), vs, "left_semi")
      }
    }
    // MINUS: anti-join on the shared variables; a group sharing no
    // variable removes nothing (SPARQL §8.3.3 compatibility semantics)
    val minused = q.minusGroups.foldLeft(multiValued) { (acc, group) =>
      val m = joinAll(group.map(patternDf))
      val shared = acc.columns.intersect(m.columns).toSeq
      if (shared.isEmpty) acc else acc.join(m, shared, "left_anti")
    }
    // FILTER EXISTS / NOT EXISTS: semi/anti join on the shared variables
    val existed = q.existsGroups.foldLeft(minused) { case (acc, (pos, group)) =>
      val e = joinAll(group.map(patternDf))
      val shared = acc.columns.intersect(e.columns).toSeq
      require(shared.nonEmpty, "exists group shares no variable with the outer patterns")
      acc.join(e, shared, if (pos) "left_semi" else "left_anti")
    }
    // FILTER constraints apply to the joined solution (after OPTIONAL,
    // per SPARQL filter scope)
    def comparison(acc: DataFrame)(c: (QueryUnit, String, QueryUnit)): Column = {
      val (l, op, r) = c
      // SPARQL built-in filter functions arrive as (var, fnName, arg)
      // triples, fnName optionally `!`-prefixed. `bound` maps to null
      // tests (OPTIONAL's unmatched rows are the unbound solutions);
      // the `is*` kind tests read the term struct's kind field and fail
      // fast on a kind-unaware (plain string) store; string tests run
      // on the term's lexical value. A null value under a negated
      // string test stays null → filtered (SPARQL type-error
      // semantics), matching the comparison ops.
      val fnBase = if (op.startsWith("!")) op.substring(1) else op
      if (Sparql.UnaryFilterFns.contains(fnBase) || Sparql.BinaryFilterFns.contains(fnBase)) {
        val n = l match {
          case QVar(name) => name
          case other => throw new IllegalArgumentException(
            s"filter function $fnBase takes a variable, got: $other")
        }
        val term = Term(acc, n)
        val use = s"filter function $fnBase"
        def arg: String = r match {
          case QVal(v, _) => v
          case other => throw new IllegalArgumentException(
            s"filter function $fnBase takes a literal argument, got: $other")
        }
        val raw = fnBase match {
          case "bound"     => term.c.isNotNull
          case "isiri"     => term.isKind(QueryUnit.Iri, use)
          case "isblank"   => term.isKind(QueryUnit.Blank, use)
          case "isliteral" => term.isKind(QueryUnit.Lit, use)
          // isNumeric (§17.4.2.4): a literal whose lexical form parses
          // numerically. On a kind-aware store lang-tagged literals are
          // excluded (numeric literals are plain/typed per spec); a
          // plain string view has only the lexical test.
          case "isnumeric" =>
            val numericVal = term.value.try_cast("double").isNotNull
            if (term.kindAware) term.kind(use).isin(RdfTerm.Raw, RdfTerm.Typed) && numericVal
            else numericVal
          case "strstarts" => term.value.startsWith(arg)
          case "strends"   => term.value.endsWith(arg)
          case "contains"  => term.value.contains(arg)
          case other => throw new IllegalArgumentException(
            s"unsupported filter function: $other")
        }
        return if (op.startsWith("!")) !raw else raw
      }
      def operand(u: QueryUnit): Column = u match {
        case QVar(n)    => acc(n)
        case QVal(v, _) => lit(v)
        // term accessors (SPARQL §17.4.2), totalized per spec with
        // type errors as null (→ row filtered, like the numeric path)
        case QFn(fn, n) =>
          val term = Term(acc, n)
          def field(f: String): Column = term.field(f, s"filter accessor $fn()")
          fn match {
            case "str"    => term.value
            // string accessors run on the lexical form; strlen keeps
            // the all-terms-are-strings invariant (the numeric-literal
            // dispatch re-casts both sides for `strlen($x) > 5`)
            case "strlen" => length(term.value).cast("string")
            case "ucase"  => upper(term.value)
            case "lcase"  => lower(term.value)
            case "lang" =>
              when(field("kind") === "lang", coalesce(field("lang"), lit("")))
                .when(field("kind").isin("raw", "typed"), lit(""))
                .otherwise(lit(null))
            case "datatype" =>
              when(field("kind") === "typed", field("datatype"))
                .when(field("kind") === "raw", lit(Sparql.XsdString))
                .when(field("kind") === "lang", lit(Sparql.RdfLangString))
                .otherwise(lit(null))
            case other => throw new IllegalArgumentException(
              s"unsupported filter accessor: $other")
          }
      }
      // membership: rhs is the comma-packed list parseComparison left raw
      if (Sparql.InOps.contains(op)) {
        val vals = r match {
          case QVal(v, _) => v.split(",").toSeq
          case other => throw new IllegalArgumentException(
            s"IN list must be literal values, got: $other")
        }
        val e = operand(l).isin(vals: _*)
        return if (op == "!in") !e else e
      }
      def numericLit(u: QueryUnit): Boolean = u match {
        case QVal(v, _) => scala.util.Try(v.toDouble).isSuccess
        case _          => false
      }
      // SPARQL operator dispatch: a numeric literal on either side makes
      // the comparison NUMERIC — both sides cast to double, so
      // `filter ( $age < 35 )` compares 9 < 35, never "9" > "35"
      // lexicographically. try_cast (not cast — ANSI mode throws) turns
      // terms that don't parse as numbers into null, which fails the
      // filter (SPARQL type-error semantics). String comparisons are
      // untouched when neither side looks numeric.
      val numeric = op != "regex" && Seq(l, r).exists(numericLit)
      // A var-vs-var (or accessor) comparison has no literal to
      // classify at parse time, so classify per ROW: when both terms
      // parse as numbers the comparison is numeric, otherwise it falls
      // back to the string compare — `filter ( $a < $b )` and
      // `filter ( strlen($a) < strlen($b) )` over numeric-string terms
      // must agree with the `$a < 35` literal path, not sort "10" < "9"
      // lexically. QFn operands are always string columns (accessors
      // run on the lexical form), so the double probe is safe there.
      val bothVars = op != "regex" && op != "sameterm" && !numeric &&
        Seq(l, r).forall(u => u.isInstanceOf[QVar] || u.isInstanceOf[QFn])
      def side(u: QueryUnit): Column =
        if (numeric) operand(u).try_cast("double") else operand(u)
      def cmp(f: (Column, Column) => Column): Column =
        if (bothVars) {
          val (ls, rs) = (operand(l), operand(r))
          val (ln, rn) = (ls.try_cast("double"), rs.try_cast("double"))
          when(ln.isNotNull && rn.isNotNull, f(ln, rn)).otherwise(f(ls, rs))
        } else f(side(l), side(r))
      op match {
        case "==" => cmp(_ === _)
        case "!=" => cmp(_ =!= _)
        case "<"  => cmp(_ < _)
        case "<=" => cmp(_ <= _)
        case ">"  => cmp(_ > _)
        case ">=" => cmp(_ >= _)
        case "regex" => r match {
          case QVal(v, _) => side(l).rlike(v)
          case other => throw new IllegalArgumentException(
            s"regex pattern must be a literal, got: $other")
        }
        // langMatches(tag, range) — RFC 4647 basic filtering: '*'
        // matches any non-empty tag; otherwise case-insensitive exact
        // or extended-subtag prefix (`en` matches `en` and `en-US`).
        // A null lhs (lang() of an IRI/blank) stays null → filtered.
        case Sparql.LangMatchesOp =>
          val range = r match {
            case QVal(v, _) => v.toLowerCase
            case other => throw new IllegalArgumentException(
              s"langmatches range must be a literal, got: $other")
          }
          val tag = lower(operand(l))
          if (range == "*") tag.isNotNull && tag =!= ""
          else tag === range || tag.startsWith(range + "-")
        // sameTerm (§17.4.1.8): identity on the FULL term — kind,
        // lexical form, lang tag and datatype. Struct equality gives
        // exactly this on a kind-aware store (Spark compares structs
        // via their ordering, so null lang/datatype fields on both
        // sides are equal); a plain string view degrades to value
        // equality, which is all the information it carries.
        case "sameterm" => operand(l) === operand(r)
      }
    }
    val conjoined = q.constraints.foldLeft(existed)((acc, c) => acc.filter(comparison(acc)(c)))
    // each disjunction is one FILTER in DNF: OR over &&-groups
    val constrained = q.disjunctions.foldLeft(conjoined) { (acc, dnf) =>
      acc.filter(dnf.map(_.map(comparison(acc)).reduce(_ && _)).reduce(_ || _))
    }
    // Aggregation (SPARQL 1.1 GROUP BY): set semantics first — the
    // engine's documented distinct-solutions model — so aggregates run
    // over the DISTINCT (group keys × agg inputs) projection; then one
    // partial-aggregated groupBy. count → BIGINT; sum/avg try_cast the
    // term to double (SPARQL numeric-term coercion; non-numeric → null,
    // excluded like SQL).
    val aggregated =
      if (q.aggs.isEmpty) constrained
      else {
        // count(*) counts DISTINCT SOLUTIONS (its pre-projection is the
        // whole solution row), while a value aggregate fn($v) runs over
        // the distinct (group keys × v) projection. The two families
        // aggregate from their OWN pre-projections and join back on the
        // group keys, so mixing them — `select $g count(*) count($x)` —
        // keeps each token's meaning instead of silently switching
        // count($x) to a per-solution multiset count (round-5 advice).
        val starAggs = q.aggs.filter(_._2 == "*")
        val valAggs = q.aggs.filterNot(_._2 == "*")
        // an arithmetic input (`x*y`, stored $-stripped) needs both
        // component COLUMNS in the distinct pre-projection — the
        // expression itself evaluates inside the aggregate
        val inputs = valAggs.flatMap {
          case (_, Sparql.AggExprRe(a, _, b), _) => Seq(a, b)
          case (_, v, _)                         => Seq(v)
        }
        (q.groupKeys ++ inputs).distinct.foreach(k =>
          require(constrained.columns.contains(k),
            s"aggregate/group variable $$$k is bound by no pattern"))
        def aggOver(pre: DataFrame,
            aggs: Seq[(String, String, String)]): DataFrame = {
          val exprs = aggs.map {
            // aggregate EXPRESSIONS (SPARQL 1.1 §11.1, `sum(?x * ?y)`):
            // numeric coercion per operand (non-numeric → null, row
            // drops out of the aggregate like SQL), evaluated inside
            // the aggregate over the distinct pre-projection
            case (fn, Sparql.AggExprRe(va, op, vb), a)
                if Set("sum", "avg", "min", "max").contains(fn) =>
              val la = pre(va).try_cast("double")
              val rb = pre(vb).try_cast("double")
              val ex = op match {
                case "+" => la + rb
                case "-" => la - rb
                case "*" => la * rb
                case "/" => la / rb
              }
              (fn match {
                case "sum" => sum(ex)
                case "avg" => avg(ex)
                case "min" => min(ex)
                case "max" => max(ex)
              }).as(a)
            case ("count", "*", a) => count(lit(1)).as(a)
            case ("count", v, a)   => count(pre(v)).as(a)
            case ("min", v, a)     => min(pre(v)).as(a)
            case ("max", v, a)     => max(pre(v)).as(a)
            case ("sum", v, a)     => sum(pre(v).try_cast("double")).as(a)
            case ("avg", v, a)     => avg(pre(v).try_cast("double")).as(a)
            // group_concat over the distinct inputs in sorted order —
            // the only deterministic (and thus cross-engine-checkable)
            // concatenation; SPARQL leaves the order undefined
            case ("group_concat", v, a) =>
              array_join(array_sort(collect_set(pre(v))), ";").as(a)
            // SAMPLE picks an arbitrary input per SPARQL — implemented
            // as min, a conforming choice that two engines agree on
            case ("sample", v, a)  => min(pre(v)).as(a)
            case (f, _, _)         => throw new IllegalArgumentException(
              s"unsupported aggregate: $f")
          }
          if (q.groupKeys.isEmpty) pre.agg(exprs.head, exprs.tail: _*)
          else pre.groupBy(q.groupKeys.map(pre(_)): _*).agg(exprs.head, exprs.tail: _*)
        }
        val valDf = Option.when(valAggs.nonEmpty)(aggOver(
          constrained
            .select((q.groupKeys ++ inputs).distinct.map(constrained(_)): _*)
            .distinct(),
          valAggs))
        val starDf = Option.when(starAggs.nonEmpty)(aggOver(
          constrained.distinct(), starAggs))
        val grouped = (valDf, starDf) match {
          // both families see the same group-key set (each group has ≥1
          // solution on both sides), so the key join is lossless
          case (Some(v), Some(st)) =>
            if (q.groupKeys.isEmpty) v.crossJoin(st)
            else v.join(st, q.groupKeys, "inner")
          case (Some(v), None)  => v
          case (None, Some(st)) => st
          case (None, None)     => constrained // unreachable: aggs nonEmpty
        }
        // HAVING: group filters after aggregation; numeric literal →
        // numeric compare (counts are longs, sums doubles), same
        // dispatch rule as FILTER
        q.havings.foldLeft(grouped) { case (acc, (alias, op, v)) =>
          val numeric = scala.util.Try(v.toDouble).isSuccess
          val lc = if (numeric) acc(alias).try_cast("double") else acc(alias)
          val rc = if (numeric) lit(v.toDouble) else lit(v)
          acc.filter(op match {
            case "==" => lc === rc
            case "!=" => lc =!= rc
            case "<"  => lc < rc
            case "<=" => lc <= rc
            case ">"  => lc > rc
            case ">=" => lc >= rc
            case other => throw new IllegalArgumentException(
              s"unsupported having op: $other")
          })
        }
      }
    // a selected variable no pattern binds projects as null (SPARQL
    // unbound semantics — also what lets UNION alternatives bind
    // different variable subsets); aggregate queries NORMALIZE column
    // order to (group keys, then aggregate aliases) regardless of how
    // the select list interleaves them — positional readers should
    // select by name
    val projected =
      if (q.aggs.nonEmpty)
        aggregated.select((q.groupKeys ++ q.aggs.map(_._3)).map(aggregated(_)): _*)
      else constrained.select(
        q.vars.distinct.filterNot(q.hiddenVars.contains).map { v =>
          if (constrained.columns.contains(v)) constrained(v)
          else lit(null).cast("string").as(v)
        }: _*)
    // solution modifiers, in SPARQL order: DISTINCT → ORDER BY →
    // OFFSET → LIMIT (set semantics stay the compile-level default —
    // the documented round-1 divergence; the DISTINCT keyword matters
    // to callers that pass distinct = false)
    val dedup =
      if (q.aggs.nonEmpty) projected // one row per group already
      else if (distinct || q.distinctKeyword) projected.distinct()
      else projected
    val ordered =
      if (q.orderKeys.isEmpty) dedup
      else dedup.orderBy(q.orderKeys.map { case (v, asc) =>
        if (asc) dedup(v).asc else dedup(v).desc
      }: _*)
    val sliced = q.offsetN.fold(ordered)(ordered.offset)
    q.limitN.fold(sliced)(sliced.limit)
  }

  /** ASK evaluation: LIMIT 1 then existence — the engine stops at the
    * first solution instead of materializing the result set. */
  def ask(triples: DataFrame, q: Sparql): Boolean =
    !compile(triples, q, distinct = false).limit(1).isEmpty

  /** CONSTRUCT evaluation: instantiate each template triple per
    * solution (variables → solution bindings, constants → terms in the
    * input's shape, [[Term.constant]]), union, set-distinct — the output
    * is itself a triple view of the input's shape, so constructed graphs
    * feed straight back into [[compile]], and over `Dataset[Triple]`
    * term structs it reads back `.as[Triple]`. */
  def construct(triples: DataFrame, tmpl: Seq[Seq[String]], q: Sparql): DataFrame = {
    require(tmpl.nonEmpty, "empty construct template")
    val sol = compile(triples, q, distinct = false)
    val parts = tmpl.map { pat =>
      val cols = pat.zip(positions).map { case (tok, pos) =>
        (QueryUnit.parse(tok) match {
          case QVar(n)  => sol(n)
          case v: QVal  => Term(triples, pos).constant(v)
          case other => throw new IllegalArgumentException(
            s"template position must be a variable or value, got: $other")
        }).as(pos)
      }
      sol.select(cols: _*)
    }
    parts.reduce(_.unionByName(_)).distinct()
  }

  /** DESCRIBE evaluation: one scan with an OR filter (both bound
    * positions push to the same scan — no union of two passes); terms
    * match by lexical value. */
  def describe(triples: DataFrame, term: String): DataFrame =
    triples.filter(
      Term(triples, "s").value === lit(term) ||
      Term(triples, "o").value === lit(term))

  /** SPARQL UNION: evaluate each alternative and take the set union.
    * Alternatives may bind different variable subsets — missing
    * columns null-fill (standard SPARQL multiset-union semantics,
    * then set-distinct like [[compile]]). */
  def compileUnion(triples: DataFrame, qs: Seq[Sparql]): DataFrame = {
    require(qs.nonEmpty, "empty union")
    qs.map(q => compile(triples, q, distinct = false))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .distinct()
  }
}
