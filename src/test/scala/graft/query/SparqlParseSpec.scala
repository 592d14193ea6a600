package graft.query

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The string front-end: dotted IRIs must survive pattern splitting
  * (round-1 advice: splitting on every '.' mangled every real IRI),
  * and OPTIONAL groups compile to left joins. */
class SparqlParseSpec extends SparkSpec {

  test("dots inside IRIs do not split patterns") {
    val q = Sparql.parse(
      "select $a $b where { $a http://g.test/knows http://g.test/bob . http://g.test/carol http://g.test/knows $b }")
    assert(q.conds.length == 2)
    assert(q.conds.head._2 == QVal("http://g.test/knows"))
    assert(q.conds.head._3 == QVal("http://g.test/bob"))
    assert(q.conds(1)._1 == QVal("http://g.test/carol"))
  }

  test("trailing dot attached to a token closes the pattern") {
    val q = Sparql.parse(
      "select $a where { $a p1 o1. $a p2 o2 }")
    assert(q.conds.length == 2)
    assert(q.conds.head._3 == QVal("o1"))
  }

  test("optional group parses and compiles to a left join") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"),
      ("bob", "knows", "carol"),
      ("alice", "mail", "a@x.org")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $y $m where { $x knows $y . optional { $x mail $m } }")
    assert(q.conds.length == 1 && q.optionals.length == 1)
    val res = Bgp.compile(triples, q).orderBy("x")
    assert(res.collect().toSeq == Seq(
      Row("alice", "bob", "a@x.org"),
      Row("bob", "carol", null)))
  }

  test("union alternatives parse, null-fill unbound vars, and set-union") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"),
      ("carol", "likes", "dave")).toDF("s", "p", "o")
    val qs = Sparql.parseUnion(
      "select $x $y $z where { { $x knows $y } union { $x likes $z } }")
    assert(qs.length == 2)
    val res = Bgp.compileUnion(triples, qs).orderBy("x").collect().toSeq
    assert(res == Seq(
      Row("alice", "bob", null),
      Row("carol", null, "dave")))
  }

  test("parseUnion without top-level union falls back to a single query") {
    val qs = Sparql.parseUnion("select $a where { $a p o }")
    assert(qs.length == 1 && qs.head.conds.length == 1)
  }

  test("filter constraints parse and restrict the solution") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "age", "31"),
      ("bob", "age", "29"),
      ("carol", "age", "31")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $a where { $x age $a . filter ( $a != 29 ) . filter ( $x regex ^[ac] ) }")
    assert(q.constraints.length == 2)
    val res = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    assert(res == Seq(Row("alice", "31"), Row("carol", "31")))
  }

  test("unsupported filter op fails fast") {
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x $y where { $x p $y . filter ( $x like $y ) }"))
  }

  test("numeric filter literal dispatches a NUMERIC comparison") {
    import spark.implicits._
    // lexicographic compare would DROP alice ("9" < "35" is false) and
    // KEEP carol ("100" < "35" is true) — round-3 verdict #1b
    val triples = Seq(
      ("alice", "age", "9"),
      ("bob", "age", "35"),
      ("carol", "age", "100")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $a where { $x age $a . filter ( $a < 35 ) }")
    val res = Bgp.compile(triples, q).collect().toSeq
    assert(res == Seq(Row("alice", "9")))
  }

  test("non-numeric terms fail a numeric filter (SPARQL type-error semantics)") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "age", "9"),
      ("bob", "age", "unknown")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $a where { $x age $a . filter ( $a >= 1 ) }")
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(Row("alice", "9")))
  }

  test("regex with a variable rhs fails fast (rlike needs a literal)") {
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x $y where { $x p $y . filter ( $x regex $y ) }"))
  }

  test("filter && / || connectives: && binds tighter, DNF compiles correctly") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "age", "31"),
      ("bob", "age", "29"),
      ("carol", "age", "27"),
      ("dave", "age", "31")).toDF("s", "p", "o")
    // a || b && c must read a || (b && c): carol OR (age 31 AND name ~ ^d)
    val q = Sparql.parse(
      "select $x $a where { $x age $a . filter ( $x == carol || $a == 31 && $x regex ^d ) }")
    assert(q.constraints.isEmpty && q.disjunctions.length == 1)
    assert(q.disjunctions.head.map(_.length) == Seq(1, 2))
    val res = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    assert(res == Seq(Row("carol", "27"), Row("dave", "31")))
    // malformed chains fail fast
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x where { $x p o . filter ( $x == a && ) }"))
  }

  test("distinct / order by / limit modifiers parse and apply in SPARQL order") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "age", "31"),
      ("alice", "age", "31"), // duplicate — distinct collapses it
      ("bob", "age", "29"),
      ("carol", "age", "27")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select distinct $x $a where { $x age $a } order by $a desc limit 2")
    assert(q.distinctKeyword && q.limitN.contains(2) && q.orderKeys == Seq(("a", false)))
    // collect() preserves the compiled ORDER BY; limit fires AFTER the
    // sort, so the two HIGHEST ages survive
    val res = Bgp.compile(triples, q, distinct = false).collect().toSeq
    assert(res == Seq(Row("alice", "31"), Row("bob", "29")))
  }

  test("order by an undeclared variable and junk after the where block fail fast") {
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x where { $x p $y } order by $y"))
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x where { $x p o } frobnicate"))
  }

  test("non-integer limit / offset counts fail fast as IllegalArgumentException") {
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x where { $x p o } limit foo"))
    assertThrows[IllegalArgumentException](
      Sparql.parse("select $x where { $x p o } offset 1.5"))
  }

  test("var-vs-var FILTER compares numerically when both terms are numeric") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "age", "9"),
      ("alice", "cap", "35"),   // "9" < "35" numerically, not lexically
      ("bob", "age", "40"),
      ("bob", "cap", "35"),
      ("carol", "age", "young"),
      ("carol", "cap", "zz")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $a $c where { $x age $a . $x cap $c . filter ( $a < $c ) }")
    val res = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    // carol survives via the string fallback: "young" < "zz" lexically
    assert(res == Seq(Row("alice", "9", "35"), Row("carol", "young", "zz")))
  }

  test("aggregates parse, group, and count distinct solutions") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"),
      ("alice", "in", "g1"),  // duplicate solution — set semantics drop it
      ("bob", "in", "g1"),
      ("carol", "in", "g2")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $g count($x) min($x) where { $x in $g } group by $g order by $g")
    assert(q.aggs == Seq(("count", "x", "count_x"), ("min", "x", "min_x")))
    assert(q.groupKeys == Seq("g"))
    val res = Bgp.compile(triples, q).collect().toSeq
    assert(res == Seq(Row("g1", 2L, "alice"), Row("g2", 1L, "carol")))
    // global aggregate: no plain vars, no group by needed
    val g = Sparql.parse("select count($x) where { $x in g1 }")
    assert(Bgp.compile(triples, g).collect().toSeq == Seq(Row(2L)))
    // count(*) counts distinct SOLUTIONS per group — pattern vars that
    // aren't selected are legal solution vars under aggregation
    val star = Sparql.parse(
      "select $g count(*) where { $x in $g } group by $g order by $g")
    assert(Bgp.compile(triples, star).collect().toSeq ==
      Seq(Row("g1", 2L), Row("g2", 1L)))
  }

  test("count(*) mixed with value aggregates keeps both meanings") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"), ("bob", "in", "g1"), ("carol", "in", "g2"),
      ("alice", "tag", "red"), ("bob", "tag", "red"), ("carol", "tag", "blue"))
      .toDF("s", "p", "o")
    // solutions per g1: (alice,red),(bob,red) → count(*)=2; but the
    // distinct tag VALUES per g1 = {red} → count($t)=1. Before the
    // round-5 fix count($t) silently meant the per-solution multiset
    // count (2).
    val q = Sparql.parse(
      "select $g count(*) count($t) where { $x in $g . $x tag $t } group by $g order by $g")
    assert(Bgp.compile(triples, q).collect().toSeq ==
      Seq(Row("g1", 2L, 1L), Row("g2", 1L, 1L)))
    // global (ungrouped) mixing takes the crossJoin path
    val g = Sparql.parse("select count(*) count($t) where { $x tag $t }")
    assert(Bgp.compile(triples, g).collect().toSeq == Seq(Row(3L, 2L)))
  }

  test("having filters groups after aggregation") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"), ("bob", "in", "g1"),
      ("carol", "in", "g2")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $g count($x) where { $x in $g } group by $g having ( count($x) >= 2 ) order by $g")
    assert(q.havings == Seq(("count_x", ">=", "2")))
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(Row("g1", 2L)))
    // having must reference a selected aggregate
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $g count($x) where { $x in $g } group by $g having ( min($x) == a )"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $g count($x) where { $x in $g } group by $g having ( $g == a )"))
  }

  test("aggregate / group by mismatches fail fast") {
    assertThrows[IllegalArgumentException]( // plain var not grouped
      Sparql.parse("select $g count($x) where { $x in $g }"))
    assertThrows[IllegalArgumentException]( // group by without aggregate
      Sparql.parse("select $g where { $x in $g } group by $g"))
    assertThrows[IllegalArgumentException]( // * only valid under count
      Sparql.parse("select min(*) where { $x in $g }"))
    assertThrows[IllegalArgumentException]( // grouping an undeclared var
      Sparql.parse("select count($x) where { $x in $g } group by $z"))
    assertThrows[IllegalArgumentException]( // duplicate aggregate alias
      Sparql.parse("select count($x) count($x) where { $x in g1 }"))
  }

  test("ask evaluates existence; construct instantiates template triples") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"),
      ("bob", "knows", "carol")).toDF("s", "p", "o")
    assert(Bgp.ask(triples, Sparql.parseAsk("ask where { alice knows $x }")))
    assert(!Bgp.ask(triples, Sparql.parseAsk("ask where { carol knows $x }")))
    val (tmpl, q) = Sparql.parseConstruct(
      "construct { $b known_by $a } where { $a knows $b }")
    val res = Bgp.construct(triples, tmpl, q).orderBy("s").collect().toSeq
    assert(res == Seq(
      Row("bob", "known_by", "alice"),
      Row("carol", "known_by", "bob")))
    // constructed output is itself queryable — graph-to-graph closure
    val again = Bgp.compile(Bgp.construct(triples, tmpl, q),
      Sparql.parse("select $x where { $x known_by alice }"))
    assert(again.collect().toSeq == Seq(Row("bob")))
    assertThrows[IllegalArgumentException](
      Sparql.parseConstruct("construct { $a } where { $a knows $b }"))
    assertThrows[IllegalArgumentException](
      Sparql.parseAsk("ask { alice knows $x }"))
  }

  test("sequence property paths rewrite with hidden midpoints; IRI slashes survive") {
    import spark.implicits._
    val q = Sparql.parse("select $a $c where { $a p1/p2/p3 $c }")
    assert(q.conds.length == 3 && q.hiddenVars.length == 2)
    val triples = Seq(
      ("a", "p1", "m"), ("m", "p2", "n"), ("n", "p3", "z")).toDF("s", "p", "o")
    // midpoints join but are NOT projected
    val res = Bgp.compile(triples, q)
    assert(res.columns.toSeq == Seq("a", "c"))
    assert(res.collect().toSeq == Seq(Row("a", "z")))
    // an IRI predicate keeps its slashes — no path split
    val iri = Sparql.parse("select $a where { $a http://g.test/knows bob }")
    assert(iri.conds.length == 1)
  }

  test("transitive property paths close via semi-naive iteration, cycles included") {
    import spark.implicits._
    val chain = Seq(
      ("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x $y where { $x next+ $y }")
    val res = Bgp.compile(chain, q).orderBy("x", "y").collect().toSeq
    assert(res == Seq(
      Row("a", "b"), Row("a", "c"), Row("a", "d"),
      Row("b", "c"), Row("b", "d"), Row("c", "d")))
    // bound endpoints filter the closure
    val qb = Sparql.parse("select $y where { a next+ $y }")
    assert(Bgp.compile(chain, qb).orderBy("y").collect().toSeq ==
      Seq(Row("b"), Row("c"), Row("d")))
    // a CYCLE terminates (delta drains once all pairs are known) and
    // includes the self-reachable pairs
    val cyc = Seq(("a", "next", "b"), ("b", "next", "a")).toDF("s", "p", "o")
    val rc = Bgp.compile(cyc, q).orderBy("x", "y").collect().toSeq
    assert(rc == Seq(Row("a", "a"), Row("a", "b"), Row("b", "a"), Row("b", "b")))
  }

  test("inverse, alternation, and zero-or-more paths evaluate; <iri> escapes path chars") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"), ("bob", "likes", "carol"),
      ("alice", "likes", "dave"), ("x", "a|b", "y")).toDF("s", "p", "o")
    // inverse: `$x ^knows alice` ≡ `alice knows $x`
    val inv = Sparql.parse("select $x where { $x ^knows alice }")
    assert(Bgp.compile(triples, inv).collect().toSeq == Seq(Row("bob")))
    // plain alternation: both branches from one scan
    val alt = Sparql.parse("select $s $o where { $s knows|likes $o }")
    assert(Bgp.compile(triples, alt).orderBy("s", "o").collect().toSeq ==
      Seq(Row("alice", "bob"), Row("alice", "dave"), Row("bob", "carol")))
    // mixed-direction alternation: union of branch evaluations
    val sym = Sparql.parse("select $s $o where { $s knows|^knows $o }")
    assert(Bgp.compile(triples, sym).orderBy("s", "o").collect().toSeq ==
      Seq(Row("alice", "bob"), Row("bob", "alice")))
    // a pipe inside <iri> is a literal predicate, not an alternation
    val esc = Sparql.parse("select $o where { x <a|b> $o }")
    intercept[IllegalArgumentException] {
      // typed (IRI) pattern needs a kind-aware store — the plain view
      // fails fast rather than silently matching by value
      Bgp.compile(triples, esc).collect()
    }
    // inverse composes inside a sequence path: `$a ^knows/likes $c`
    // walks knower(a)→knower's likes — bob ←knows alice →likes dave
    val seq = Sparql.parse("select $a $c where { $a ^knows/likes $c }")
    assert(Bgp.compile(triples, seq).collect().toSeq == Seq(Row("bob", "dave")))
  }

  test("zero-or-more closure adds the reflexive pairs over all graph terms") {
    import spark.implicits._
    val chain = Seq(("a", "next", "b"), ("b", "next", "c")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x $y where { $x next* $y }")
    assert(Bgp.compile(chain, q).orderBy("x", "y").collect().toSeq == Seq(
      Row("a", "a"), Row("a", "b"), Row("a", "c"),
      Row("b", "b"), Row("b", "c"), Row("c", "c")))
    // bound subject keeps its reflexive row
    val qb = Sparql.parse("select $y where { b next* $y }")
    assert(Bgp.compile(chain, qb).orderBy("y").collect().toSeq ==
      Seq(Row("b"), Row("c")))
  }

  test("typed pattern values parse with kinds, bare values stay untyped") {
    assert(QueryUnit.parse("<http://g.test/a>") == QVal("http://g.test/a", Some(QueryUnit.Iri)))
    assert(QueryUnit.parse("\"alice\"") == QVal("alice", Some(QueryUnit.Lit)))
    assert(QueryUnit.parse("_:b1") == QVal("b1", Some(QueryUnit.Blank)))
    assert(QueryUnit.parse("alice") == QVal("alice", None))
    assert(QueryUnit.parse("$alice") == QVar("alice"))
  }

  test("typed pattern against a kind-less triple view fails fast") {
    import spark.implicits._
    val triples = Seq(("a", "p", "b")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x where { $x p \"b\" }")
    assertThrows[IllegalArgumentException](Bgp.compile(triples, q))
  }

  test("typed closure endpoints honor term kinds (round-5 advice)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, struct}
    val chain = Seq(("a", "next", "b"), ("b", "next", "c")).toDF("s", "p", "o")
    // a typed endpoint on a kind-UNAWARE store fails fast, mirroring
    // plainPatternDf — it must not silently fall back to value-only
    val q = Sparql.parse("select $y where { <a> next+ $y }")
    assertThrows[IllegalArgumentException](Bgp.compile(chain, q).collect())
    // kind-aware (kind, value) structs: all terms are IRIs, so the
    // iri-typed endpoint matches, and the path variable is the view's
    // term struct like any other variable…
    val kinds = chain.select(Seq("s", "p", "o").map(c =>
      struct(lit("named").as("kind"), col(c).as("value")).as(c)): _*)
    val ys = Bgp.compile(kinds, q)
    assert(ys.schema("y").dataType == kinds.schema("o").dataType)
    assert(ys.select(col("y.value")).orderBy("value").collect().toSeq ==
      Seq(Row("b"), Row("c")))
    // …while a literal-typed endpoint of the same lexical value does not
    val ql = Sparql.parse("select $y where { \"a\" next+ $y }")
    assert(Bgp.compile(kinds, ql).count() == 0)
  }

  test("ask, union, describe and construct read the term shape from the schema") {
    import spark.implicits._
    import graft.rdf.{RdfTerm, Triple}
    // (kind, value) structs where every nation name is both an IRI
    // (in_nation) and a plain literal (nation_label)
    val view = graft.operators.RdfOps.typedTripleView(spark, sf0001)
    assert(Bgp.ask(view, Sparql.parseAsk("ask where { $x in_nation <NATION_2> }")))
    assert(!Bgp.ask(view, Sparql.parseAsk("ask where { $x nation_label <NATION_2> }")))
    val byKind = Bgp.compileUnion(view, Sparql.parseUnion(
      """select $x $p where {
        |  { $x in_nation <NATION_2> . $x $p <NATION_2> }
        |  union
        |  { $x nation_label "NATION_2" . $x $p "NATION_2" }
        |}""".stripMargin))
      .select($"x.value".as("x"), $"p.value".as("p")).collect().toSeq
    val customers = view.filter($"o.value" === "NATION_2" && $"p.value" === "in_nation")
      .select($"s.value").as[String].collect().toSet
    assert(customers.nonEmpty)
    assert(byKind.groupBy(_.getString(1)).map { case (p, rs) => p -> rs.map(_.getString(0)).toSet } ==
      Map("in_nation" -> customers, "nation_label" -> customers))
    // describe matches by lexical value: both kinds' edges
    val described = Bgp.describe(view, "NATION_2")
    assert(described.select($"o.kind").as[String].collect().toSet == Set("named", "raw"))
    assert(described.count() == 2L * customers.size)
    // a template constant takes the input's term shape: over the
    // store's term structs the result reads back as triples
    val store = graft.store.TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("alice"), RdfTerm.named("knows"), RdfTerm.named("bob")),
      Triple(RdfTerm.named("bob"), RdfTerm.named("knows"), RdfTerm.raw("carol"))))
    val (tmpl, cq) = Sparql.parseConstruct("construct { $b knows_of $a } where { $a knows $b }")
    val built = Bgp.construct(store.triples.toDF(), tmpl, cq).as[Triple].collect().toSet
    assert(built == Set(
      Triple(RdfTerm.named("bob"), RdfTerm.named("knows_of"), RdfTerm.named("alice")),
      Triple(RdfTerm.raw("carol"), RdfTerm.named("knows_of"), RdfTerm.named("bob"))))
  }

  test("values clause restricts a variable to the listed terms") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"), ("bob", "in", "g2"), ("carol", "in", "g3"))
      .toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $g where { $x in $g . values $g { g1 g3 } }")
    assert(Bgp.compile(triples, q).orderBy("x").collect().toSeq ==
      Seq(Row("alice", "g1"), Row("carol", "g3")))
    // a values list of variables is malformed
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x in g1 . values $x { $y } }"))
  }

  test("values UNDEF cell leaves its variable unconstrained in that row") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"), ("alice", "likes", "tea"),
      ("bob", "in", "g2"), ("bob", "likes", "coffee"),
      ("carol", "in", "g1"), ("carol", "likes", "coffee"))
      .toDF("s", "p", "o")
    // row 1: anyone in g1, whatever they like; row 2: coffee-likers in g2
    val q = Sparql.parse(
      """select $x $g $l where { $x in $g . $x likes $l .
        |  values ( $g $l ) { ( g1 undef ) ( g2 coffee ) } }""".stripMargin)
    assert(Bgp.compile(triples, q).orderBy("x").collect().toSeq ==
      Seq(Row("alice", "g1", "tea"), Row("bob", "g2", "coffee"),
        Row("carol", "g1", "coffee")))
    // an all-UNDEF row admits every solution (it constrains nothing)
    val qAll = Sparql.parse(
      """select $x $g where { $x in $g .
        |  values ( $g ) { ( undef ) } }""".stripMargin)
    assert(Bgp.compile(triples, qAll).count() == 3)
  }

  test("minus removes compatible solutions; disjoint minus removes nothing") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"), ("carol", "knows", "dave"),
      ("alice", "banned", "yes"), ("x", "unrelated", "y")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $a $b where { $a knows $b . minus { $a banned yes } }")
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(Row("carol", "dave")))
    // no shared variable → SPARQL compatibility semantics: no-op
    val qd = Sparql.parse(
      "select $a $b where { $a knows $b . minus { $z unrelated $w } }")
    assert(Bgp.compile(triples, qd).count() == 2)
  }

  test("filter exists keeps matching solutions, not exists drops them") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"), ("carol", "knows", "dave"),
      ("alice", "mail", "a@x.org")).toDF("s", "p", "o")
    val ex = Sparql.parse(
      "select $a $b where { $a knows $b . filter exists { $a mail $m } }")
    assert(Bgp.compile(triples, ex).collect().toSeq == Seq(Row("alice", "bob")))
    val nex = Sparql.parse(
      "select $a $b where { $a knows $b . filter not exists { $a mail $m } }")
    assert(Bgp.compile(triples, nex).collect().toSeq == Seq(Row("carol", "dave")))
  }

  test("bind computes new variables; rebinding a pattern variable fails") {
    import spark.implicits._
    val triples = Seq(("alice", "in", "g1"), ("bob", "in", "g2")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $g $u $n where { $x in $g . bind ( ucase($x) as $u ) . bind ( strlen($x) as $n ) }")
    assert(Bgp.compile(triples, q).orderBy("x").collect().toSeq ==
      Seq(Row("alice", "g1", "ALICE", "5"), Row("bob", "g2", "BOB", "3")))
    // plain alias form, and filters can reference the bound variable
    val qa = Sparql.parse(
      "select $x $y where { $x in $y . bind ( $x as $y2 ) . filter ( $y2 == bob ) }")
    assert(Bgp.compile(triples, qa).collect().toSeq == Seq(Row("bob", "g2")))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $g where { $x in $g . bind ( ucase($x) as $g ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x in g1 . bind ( uuid ( $x ) as $h ) }"))
  }

  test("zero-or-one path gives one-hop edges plus reflexive pairs only") {
    import spark.implicits._
    val chain = Seq(("a", "next", "b"), ("b", "next", "c")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x $y where { $x next? $y }")
    // NO (a,c): zero-or-one never iterates
    assert(Bgp.compile(chain, q).orderBy("x", "y").collect().toSeq == Seq(
      Row("a", "a"), Row("a", "b"),
      Row("b", "b"), Row("b", "c"), Row("c", "c")))
  }

  test("group_concat and sample aggregate deterministically") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in", "g1"), ("bob", "in", "g1"), ("bob", "in", "g1"),
      ("carol", "in", "g2")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $g group_concat($x) sample($x) where { $x in $g } group by $g order by $g")
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(
      Row("g1", "alice;bob", "alice"), Row("g2", "carol", "carol")))
  }

  test("optional group must share a variable with the required part") {
    import spark.implicits._
    val triples = Seq(("a", "p", "b")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $x $y $z $w where { $x p $y . optional { $z q $w } }")
    assertThrows[IllegalArgumentException](Bgp.compile(triples, q))
  }

  test("bound()/!bound() filter OPTIONAL's unmatched rows (negation by failure)") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"),
      ("bob", "knows", "carol"),
      ("alice", "mail", "a@x.org")).toDF("s", "p", "o")
    def run(fn: String) = Bgp.compile(triples, Sparql.parse(
      s"select $$x $$y $$m where { $$x knows $$y . optional { $$x mail $$m } . filter ( $fn ( $$m ) ) }"))
      .orderBy("x").collect().toSeq
    assert(run("!bound") == Seq(Row("bob", "carol", null)))
    assert(run("bound") == Seq(Row("alice", "bob", "a@x.org")))
  }

  test("string filter functions evaluate; negation and DNF compose") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "likes", "apples"),
      ("bob", "likes", "pears"),
      ("carol", "likes", "grapes")).toDF("s", "p", "o")
    def q(f: String) = Bgp.compile(triples, Sparql.parse(
      s"select $$x $$o where { $$x likes $$o . filter ( $f ) }"))
      .orderBy("x").collect().map(_.getString(0)).toSeq
    assert(q("strstarts ( $o , a )") == Seq("alice"))
    assert(q("!strstarts ( $o , a )") == Seq("bob", "carol"))
    assert(q("strends ( $o , es )") == Seq("alice", "carol"))
    assert(q("contains ( $o , rape )") == Seq("carol"))
    assert(q("contains ( $o , rape ) || strstarts ( $x , a ) && strends ( $o , s )") ==
      Seq("alice", "carol"))
  }

  test("commas survive in values and regex; binary-fn args split them (review #2)") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "likes", "a,b"),
      ("bob", "likes", "cc"),
      ("carol", "likes", "dcc")).toDF("s", "p", "o")
    // comma inside a pattern value is literal
    val byVal = Bgp.compile(triples, Sparql.parse(
      "select $x where { $x likes a,b }")).collect().map(_.getString(0)).toSeq
    assert(byVal == Seq("alice"))
    // comma inside a regex literal is literal (braces/parens remain
    // tokenizer-reserved, as before this round)
    val byRe = Bgp.compile(triples, Sparql.parse(
      "select $x $o where { $x likes $o . filter ( $o regex a,b ) }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(byRe == Seq("alice"))
    // binary filter-function args accept attached commas
    val fn = Bgp.compile(triples, Sparql.parse(
      "select $x $o where { $x likes $o . filter ( contains ( $o, b ) ) }"))
      .collect().map(_.getString(0)).toSeq
    assert(fn == Seq("alice"))
  }

  test("filter function grammar fails fast on arity and operand mistakes") {
    // wrong arity / non-variable operand / variable literal-arg /
    // unknown function — all IllegalArgumentException at parse time
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x p $o . filter ( bound ( $o , x ) ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x p $o . filter ( strstarts ( $o ) ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $o where { $x p $o . filter ( strstarts ( $o , $x ) ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x p $o . filter ( shoutcase ( $o ) ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x p $o . filter ( bound ( $undeclared ) ) }"))
  }

  test("isiri/isliteral on a kind-unaware store fail fast at compile") {
    import spark.implicits._
    val triples = Seq(("a", "p", "b")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x $o where { $x p $o . filter ( isiri ( $o ) ) }")
    assertThrows[IllegalArgumentException](
      Bgp.compile(triples, q).collect())
  }

  test("a sequence path mixing a closure step with a plain step composes") {
    import spark.implicits._
    val triples = Seq(
      ("a", "next", "b"), ("b", "next", "c"),
      ("b", "in", "G"), ("c", "in", "H")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x $g where { $x next+/in $g }")
    assert(Bgp.compile(triples, q).orderBy("x", "g").collect().toSeq == Seq(
      Row("a", "G"), Row("a", "H"), Row("b", "H")))
  }

  test("bound-endpoint transitive paths evaluate from the seed, both directions") {
    import spark.implicits._
    val chain = Seq(("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"))
      .toDF("s", "p", "o")
    val fwd = Bgp.compile(chain, Sparql.parse("select $y where { b next+ $y }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(fwd == Seq("c", "d"))
    val bwd = Bgp.compile(chain, Sparql.parse("select $x where { $x next+ c }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bwd == Seq("a", "b"))
    // bound star includes the seed's reflexive pair
    val star = Bgp.compile(chain, Sparql.parse("select $y where { b next* $y }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(star == Seq("b", "c", "d"))
    // both endpoints bound: existence via the ASK path
    assert(Bgp.ask(chain, Sparql(Nil, Seq((QVal("a"), QVal("next+"), QVal("d"))))))
    assert(!Bgp.ask(chain, Sparql(Nil, Seq((QVal("d"), QVal("next+"), QVal("a"))))))
  }

  test("graph groups select slices, bind the source graph, and join across graphs") {
    import spark.implicits._
    val quads = Seq(
      ("g1", "alice", "knows", "bob"),
      ("g2", "alice", "knows", "carol"),
      ("g2", "carol", "mail", "c@x.org")).toDF("g", "s", "p", "o")
    // bound graph: only g2's edge matches
    val bound = Bgp.compile(quads, Sparql.parse(
      "select $y where { graph <g2> { alice knows $y } }"))
    assert(bound.collect().map(_.getString(0)).toSeq == Seq("carol"))
    // variable graph: each solution carries its source graph
    val byG = Bgp.compile(quads, Sparql.parse(
      "select $g $y where { graph $g { alice knows $y } }"))
      .orderBy("g").collect().toSeq
    assert(byG == Seq(Row("g1", "bob"), Row("g2", "carol")))
    // a variable-graph group pins ALL its patterns to ONE graph: the
    // knows/mail pair coexists only in g2
    val sameG = Bgp.compile(quads, Sparql.parse(
      "select $g $y $m where { graph $g { alice knows $y . $y mail $m } }"))
      .collect().toSeq
    assert(sameG == Seq(Row("g2", "carol", "c@x.org")))
    // default graph = union of all graphs; mixes with graph groups
    val mixed = Bgp.compile(quads, Sparql.parse(
      "select $y $m where { alice knows $y . graph <g2> { $y mail $m } }"))
      .collect().toSeq
    assert(mixed == Seq(Row("carol", "c@x.org")))
    // paths work inside a BOUND graph group (sub-BGP recursion)
    val chainQuads = Seq(
      ("gA", "a", "next", "b"), ("gA", "b", "next", "c"),
      ("gB", "b", "next", "z")).toDF("g", "s", "p", "o")
    val closed = Bgp.compile(chainQuads, Sparql.parse(
      "select $y where { graph <gA> { a next+ $y } }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(closed == Seq("b", "c")) // never z: gB's edge is invisible
  }

  test("subqueries join on projected variables only; inner vars stay scoped") {
    import spark.implicits._
    val triples = Seq(
      ("a1", "in", "g1"), ("a2", "in", "g1"),
      ("b1", "in", "g2"),
      ("m1", "member", "g1"), ("m2", "member", "g2")).toDF("s", "p", "o")
    // inner $x is scoped out; outer $m joins on the projected $g
    val q = Sparql.parse(
      """select $m $g where {
        |  $m member $g .
        |  { select $g count($x) where { $x in $g }
        |    group by $g having ( count($x) >= 2 ) }
        |}""".stripMargin)
    assert(q.subqueries.length == 1 && q.subqueries.head.aggs.nonEmpty)
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(Row("m1", "g1")))
    // subquery modifiers apply inside: limit the inner groups
    val lim = Sparql.parse(
      """select $m $g where { $m member $g .
        |  { select $g count($x) where { $x in $g }
        |    group by $g order by count($x) desc limit 1 } }""".stripMargin)
    assert(Bgp.compile(triples, lim).collect().toSeq == Seq(Row("m1", "g1")))
    // a braced body group that is not a subquery fails fast
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x where { $x p o . { $x q r } }"))
  }

  test("negated property sets match every predicate not listed") {
    import spark.implicits._
    val triples = Seq(
      ("a", "knows", "b"), ("a", "likes", "c"),
      ("a", "hates", "d")).toDF("s", "p", "o")
    def q(pred: String) = Bgp.compile(triples, Sparql.parse(
      s"select $$o where { a $pred $$o }"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(q("!knows") == Seq("c", "d"))
    assert(q("!knows|hates") == Seq("c"))
    // IRIs containing '!' escape the negation via <…>: no path
    // dispatch happens (the kind-aware fail-fast fires instead of a
    // negated-set scan, same convention as <a|b> in the alternation
    // test) — and a '!' inside an URL-shaped bare predicate is literal
    val bang = Seq(("a", "not!equal", "x")).toDF("s", "p", "o")
    assertThrows[IllegalArgumentException](Bgp.compile(bang, Sparql.parse(
      "select $o where { a <not!equal> $o }")).collect())
    val url = Seq(("a", "http://g.test/!odd", "x")).toDF("s", "p", "o")
    assert(Bgp.compile(url, Sparql.parse(
      "select $o where { a http://g.test/!odd $o }"))
      .collect().map(_.getString(0)).toSeq == Seq("x"))
    // unsupported inside variable-graph groups, like other path syntax
    val quads = Seq(("g1", "a", "p", "b")).toDF("g", "s", "p", "o")
    assertThrows[IllegalArgumentException](Bgp.compile(quads, Sparql.parse(
      "select $g $o where { graph $g { a !p $o } }")))
  }

  test("order by an aggregate resolves to its alias; unknown aggregate fails fast") {
    import spark.implicits._
    val triples = Seq(
      ("a1", "in", "g1"), ("a2", "in", "g1"), ("a3", "in", "g1"),
      ("b1", "in", "g2"), ("b2", "in", "g2"),
      ("c1", "in", "g3")).toDF("s", "p", "o")
    val q = Sparql.parse(
      "select $g count($x) where { $x in $g } group by $g order by count($x) desc $g asc limit 2")
    assert(Bgp.compile(triples, q).collect().toSeq == Seq(
      Row("g1", 3L), Row("g2", 2L)))
    // ordering by an aggregate that is not a select item fails fast
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $g count($x) where { $x in $g } group by $g order by min($x)"))
  }

  test("from / from named slice the dataset exactly (§13.2)") {
    import spark.implicits._
    val quads = Seq(
      ("g1", "alice", "knows", "bob"),
      ("g2", "alice", "knows", "carol")).toDF("g", "s", "p", "o")
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).sorted.toSeq
    // FROM narrows the default graph
    assert(vals(Bgp.compile(quads, Sparql.parse(
      "select $y from <g1> where { alice knows $y }"))) == Seq("bob"))
    assert(vals(Bgp.compile(quads, Sparql.parse(
      "select $y from <g1> from <g2> where { alice knows $y }"))) == Seq("bob", "carol"))
    // FROM-only leaves NO named graphs: GRAPH matches nothing
    assert(Bgp.compile(quads, Sparql.parse(
      "select $g $y from <g1> where { graph $g { alice knows $y } }")).isEmpty)
    // FROM NAMED restricts GRAPH and empties the default graph
    assert(Bgp.compile(quads, Sparql.parse(
      "select $g $y from named <g2> where { graph $g { alice knows $y } }"))
      .collect().toSeq == Seq(Row("g2", "carol")))
    assert(Bgp.compile(quads, Sparql.parse(
      "select $y from named <g2> where { alice knows $y }")).isEmpty)
    // dataset clauses on a triple view fail fast; variables rejected
    val triples = Seq(("a", "p", "b")).toDF("s", "p", "o")
    assertThrows[IllegalArgumentException](Bgp.compile(triples,
      Sparql.parse("select $o from <g1> where { a p $o }")))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $o from $g where { a p $o }"))
  }

  test("graph group misuse fails fast: no quad view, path in var-graph, var collision") {
    import spark.implicits._
    val triples = Seq(("a", "p", "b")).toDF("s", "p", "o")
    val q = Sparql.parse("select $x where { graph <g1> { $x p b } }")
    assertThrows[IllegalArgumentException](Bgp.compile(triples, q))
    val quads = Seq(("g1", "a", "next", "b")).toDF("g", "s", "p", "o")
    val pathQ = Sparql.parse("select $g $y where { graph $g { a next+ $y } }")
    assertThrows[IllegalArgumentException](Bgp.compile(quads, pathQ))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $g $y where { graph $g { $g next $y } }"))
  }

  test("IN / NOT IN membership, both comma spacings, fail-fast on empty list") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "in_nation", "N1"),
      ("bob", "in_nation", "N2"),
      ("carol", "in_nation", "N3")).toDF("s", "p", "o")
    def names(q: String) = Bgp.compile(triples, Sparql.parse(q))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names("select $x $n where { $x in_nation $n . filter ( $n in ( N1 , N3 ) ) }")
      == Seq("alice", "carol"))
    // attached commas tokenize the same as spaced ones
    assert(names("select $x $n where { $x in_nation $n . filter ( $n in ( N1, N3 ) ) }")
      == Seq("alice", "carol"))
    assert(names("select $x $n where { $x in_nation $n . filter ( $n not in ( N1 , N3 ) ) }")
      == Seq("bob"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $n where { $x in_nation $n . filter ( $n in ( ) ) }"))
  }

  test("str()/lang()/datatype() accessors: struct view semantics, plain-view fail-fast") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, struct, col}
    val nullS = lit(null).cast("string")
    def term(kind: String, value: String, lang: String = null, dt: String = null) =
      struct(lit(kind).as("kind"), lit(value).as("value"),
        (if (lang == null) nullS else lit(lang)).as("lang"),
        (if (dt == null) nullS else lit(dt)).as("datatype"))
    val view = Seq(1).toDF("one").select(
      term("named", "s1").as("s"), term("named", "p1").as("p"), term("lang", "hello", lang = "en").as("o"))
      .union(Seq(1).toDF("one").select(term("named", "s2").as("s"), term("named", "p1").as("p"),
        term("raw", "plain").as("o")))
      .union(Seq(1).toDF("one").select(term("named", "s3").as("s"), term("named", "p1").as("p"),
        term("typed", "42", dt = "http://www.w3.org/2001/XMLSchema#integer").as("o")))
      .union(Seq(1).toDF("one").select(term("named", "s4").as("s"), term("named", "p1").as("p"),
        term("named", "iriobj").as("o")))
    def subjects(filter: String) =
      Bgp.compile(view,
          Sparql.parse(s"select $$x $$o where { $$x p1 $$o . filter ( $filter ) }"))
        .select(col("x.value")).collect().map(_.getString(0)).sorted.toSeq
    assert(subjects("lang ( $o ) == en") == Seq("s1"))
    // plain AND typed literals have lang "" (spec totalization); IRIs
    // are a type error (null) and never match — not even != tests
    assert(subjects("lang ( $o ) == \"\"") == Seq("s2", "s3"))
    assert(subjects("datatype ( $o ) == <http://www.w3.org/2001/XMLSchema#integer>") == Seq("s3"))
    assert(subjects("datatype ( $o ) == <http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>") == Seq("s1"))
    assert(subjects("datatype ( $o ) == <http://www.w3.org/2001/XMLSchema#string>") == Seq("s2"))
    // str() is the lexical form on a struct view…
    assert(subjects("str ( $o ) == hello") == Seq("s1"))
    assert(subjects("str ( $o ) in ( hello , iriobj )") == Seq("s1", "s4"))
    // …and the identity on a plain view, where lang() must fail fast
    val plain = Seq(("alice", "age", "31")).toDF("s", "p", "o")
    assert(Bgp.compile(plain,
      Sparql.parse("select $x $a where { $x age $a . filter ( str ( $a ) == 31 ) }"))
      .collect().map(_.getString(0)).toSeq == Seq("alice"))
    assertThrows[IllegalArgumentException](Bgp.compile(plain,
      Sparql.parse("select $x $a where { $x age $a . filter ( lang ( $a ) == en ) }")).collect())
  }

  test("bind coalesce/if: optional defaults; bad if-condition fails fast") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "knows", "bob"),
      ("bob", "knows", "carol"),
      ("alice", "mail", "a@x.org")).toDF("s", "p", "o")
    val q = Sparql.parse(
      """select $x $y $m $m2 $flag where {
        |  $x knows $y . optional { $x mail $m } .
        |  bind ( coalesce ( $m , none ) as $m2 ) .
        |  bind ( if ( !bound ( $m ) , missing , present ) as $flag )
        |}""".stripMargin)
    val res = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    assert(res == Seq(
      Row("alice", "bob", "a@x.org", "a@x.org", "present"),
      Row("bob", "carol", null, "none", "missing")))
    assertThrows[IllegalArgumentException](Sparql.parse(
      """select $x $y $f where { $x knows $y .
        |  bind ( if ( $x , a , b ) as $f ) }""".stripMargin))
    assertThrows[IllegalArgumentException](Sparql.parse(
      """select $x $y $f where { $x knows $y .
        |  bind ( coalesce ( $nope , a ) as $f ) }""".stripMargin))
  }

  test("strlen/ucase/lcase accessors compare; substr/replace bind (§17.4.3)") {
    import spark.implicits._
    val triples = Seq(
      ("alice", "name", "Alice"),
      ("bob", "name", "Bo"),
      ("carol", "name", "Caroline")).toDF("s", "p", "o")
    def rows(q: String) =
      Bgp.compile(triples, Sparql.parse(q)).orderBy("x").collect().toSeq
    // strlen rides the numeric dispatch: 5 < 8 numerically, not "5" < "8"
    assert(rows("select $x $v where { $x name $v . filter ( strlen ( $v ) >= 5 ) }")
      .map(_.getString(0)) == Seq("alice", "carol"))
    assert(rows("select $x $v where { $x name $v . filter ( ucase ( $v ) == ALICE ) }")
      .map(_.getString(0)) == Seq("alice"))
    assert(rows("select $x $v where { $x name $v . filter ( lcase ( $v ) in ( bo , caroline ) ) }")
      .map(_.getString(0)) == Seq("bob", "carol"))
    val bound = rows(
      """select $x $v $sub $rep where { $x name $v .
        |  bind ( substr ( $v , 1 , 3 ) as $sub ) .
        |  bind ( replace ( $v , li , LY ) as $rep ) }""".stripMargin)
    assert(bound.map(r => (r.getString(2), r.getString(3))) == Seq(
      ("Ali", "ALYce"), ("Bo", "Bo"), ("Car", "CaroLYne")))
    // fail-fasts: substr positions must be integer literals; replace arity
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $b where { $x name $v . bind ( substr ( $v , a , 3 ) as $b ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $b where { $x name $v . bind ( replace ( $v , li ) as $b ) }"))
  }

  test("infix arithmetic bind; concat/strbefore/strafter (§17.4)") {
    import spark.implicits._
    val triples = Seq(
      ("a", "qty", "3"), ("b", "qty", "10"), ("c", "qty", "x")).toDF("s", "p", "o")
    def rows(q: String) =
      Bgp.compile(triples, Sparql.parse(q)).orderBy("x").collect().toSeq
    val arith = rows(
      """select $x $v $dbl $half $off where { $x qty $v .
        |  bind ( $v * 2 as $dbl ) . bind ( $v / 2 as $half ) .
        |  bind ( $v - 1 as $off ) }""".stripMargin)
    // non-numeric terms become null (SPARQL type error), not a crash
    assert(arith.map(r => (r.getString(2), r.getString(3), r.getString(4))) == Seq(
      ("6.0", "1.5", "2.0"), ("20.0", "5.0", "9.0"), (null, null, null)))
    // var ⊕ var, and division by zero → type error (null), not Infinity
    val vv = rows(
      """select $x $v $sum $div where { $x qty $v .
        |  bind ( $v + $v as $sum ) . bind ( $v / 0 as $div ) }""".stripMargin)
    assert(vv.map(r => (r.getString(2), r.getString(3))) == Seq(
      ("6.0", null), ("20.0", null), (null, null)))
    val str = rows(
      """select $x $v $lbl $pre $post where { $x qty $v .
        |  bind ( concat ( $x , = , $v ) as $lbl ) .
        |  bind ( strbefore ( $lbl , = ) as $pre ) .
        |  bind ( strafter ( $lbl , = ) as $post ) }""".stripMargin)
    assert(str.map(r => (r.getString(2), r.getString(3), r.getString(4))) == Seq(
      ("a=3", "a", "3"), ("b=10", "b", "10"), ("c=x", "c", "x")))
    // separator miss → "" (spec), NOT the whole string
    val miss = rows(
      """select $x $v $pre where { $x qty $v .
        |  bind ( strbefore ( $v , _ ) as $pre ) }""".stripMargin)
    assert(miss.map(_.getString(2)) == Seq("", "", ""))
    // fail-fasts: bad operator shape, non-numeric literal operand
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $b where { $x qty $v . bind ( $v % 2 as $b ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $b where { $x qty $v . bind ( strafter ( $v , $v ) as $b ) }"))
  }

  test("langmatches filter and isnumeric test (§17.4.2-3)") {
    import spark.implicits._
    // plain string view: isnumeric = lexical test; langmatches over a
    // variable holding the tag itself
    val triples = Seq(
      ("a", "v", "42"), ("b", "v", "4.5"), ("c", "v", "x42"),
      ("a", "tag", "en"), ("b", "tag", "en-US"), ("c", "tag", "fr")).toDF("s", "p", "o")
    def rows(q: String) =
      Bgp.compile(triples, Sparql.parse(q)).orderBy("x").collect().toSeq
    assert(rows("select $x $v where { $x v $v . filter ( isnumeric ( $v ) ) }")
      .map(_.getString(0)) == Seq("a", "b"))
    assert(rows("select $x $v where { $x v $v . filter ( !isnumeric ( $v ) ) }")
      .map(_.getString(0)) == Seq("c"))
    // RFC 4647 basic filtering: en matches en AND en-US, not fr; *
    // matches every non-empty tag
    assert(rows("select $x $t where { $x tag $t . filter ( langmatches ( $t , en ) ) }")
      .map(_.getString(0)) == Seq("a", "b"))
    assert(rows("select $x $t where { $x tag $t . filter ( langmatches ( $t , * ) ) }")
      .map(_.getString(0)) == Seq("a", "b", "c"))
    // langmatches range must be a literal
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $t where { $x tag $t . filter ( langmatches ( $t , $t ) ) }"))
  }

  test("numeric/hash/datetime binds (§17.4.4-6); sameterm filter (§17.4.1.8)") {
    import spark.implicits._
    val triples = Seq(
      ("a", "v", "-2.5"), ("b", "v", "1.3"), ("c", "v", "x"),
      ("a", "when", "1995-03-15"), ("b", "when", "2001-12-01T10:30:45"),
      ("c", "when", "notadate")).toDF("s", "p", "o")
    def rows(q: String) =
      Bgp.compile(triples, Sparql.parse(q)).orderBy("x").collect().toSeq
    // ROUND ties toward +∞ (SPARQL): round(-2.5) = -2, NOT -3; type
    // errors (non-numeric terms) → null
    val num = rows(
      """select $x $v $a $r $u $d where { $x v $v .
        |  bind ( abs ( $v ) as $a ) . bind ( round ( $v ) as $r ) .
        |  bind ( ceil ( $v ) as $u ) . bind ( floor ( $v ) as $d ) }""".stripMargin)
    assert(num.map(r => (r.getString(2), r.getString(3), r.getString(4),
      r.getString(5))) == Seq(
      ("2.5", "-2.0", "-2.0", "-3.0"),
      ("1.3", "1.0", "2.0", "1.0"),
      (null, null, null, null)))
    // hashes: well-known digests of "a" (lowercase hex, both engines)
    val h = rows(
      """select $x $v $m $s1 $s2 where { $x v $v .
        |  bind ( md5 ( $x ) as $m ) . bind ( sha1 ( $x ) as $s1 ) .
        |  bind ( sha256 ( $x ) as $s2 ) }""".stripMargin).head
    assert(h.getString(2) == "0cc175b9c0f1b6a831c399e269772661")
    assert(h.getString(3) == "86f7e437faa5a7fce15d1ddcb9eaeaea377667b8")
    assert(h.getString(4) ==
      "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72b9807785afee48bb")
    // datetime accessors: date-only lexical → midnight; non-dates null
    val dt = rows(
      """select $x $w $y $mo $dd $hh where { $x when $w .
        |  bind ( year ( $w ) as $y ) . bind ( month ( $w ) as $mo ) .
        |  bind ( day ( $w ) as $dd ) . bind ( hours ( $w ) as $hh ) }""".stripMargin)
    assert(dt.map(r => (r.getString(2), r.getString(3), r.getString(4),
      r.getString(5))) == Seq(
      ("1995", "3", "15", "0"), ("2001", "12", "1", "10"),
      (null, null, null, null)))
    // sameterm on a plain view = value equality; both operands must be
    // variables
    val st = Seq(("a", "p1", "x"), ("a", "p2", "x"), ("b", "p1", "y"),
      ("b", "p2", "z")).toDF("s", "p", "o")
    val same = Bgp.compile(st, Sparql.parse(
      "select $x $l $r where { $x p1 $l . $x p2 $r . filter ( sameterm ( $l , $r ) ) }"))
      .collect().toSeq
    assert(same.map(_.getString(0)) == Seq("a"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $l where { $x p1 $l . filter ( sameterm ( $l , lit ) ) }"))
  }

  test("strdt/strlang/iri/bnode construct terms the accessors read back (§17.4.2)") {
    import spark.implicits._
    val triples = Seq(("a", "v", "hello"), ("b", "v", "42"))
      .toDF("s", "p", "o")
    // constructed structs carry kind/lang/datatype even from a plain
    // string view; accessors and kind tests consume them per-column
    val q = Sparql.parse(
      """select $x $v $lt $dt $u $bn where { $x v $v .
        |  bind ( strlang ( $v , en-US ) as $lt ) .
        |  bind ( strdt ( $v , http://www.w3.org/2001/XMLSchema#string ) as $dt ) .
        |  bind ( iri ( $v ) as $u ) . bind ( bnode ( $v ) as $bn ) .
        |  filter ( langmatches ( lang ( $lt ) , en ) ) .
        |  filter ( isiri ( $u ) ) . filter ( isblank ( $bn ) ) .
        |  filter ( !isliteral ( $u ) )
        |}""".stripMargin)
    val rows = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getStruct(2).getString(0) == "lang" &&
      r.getStruct(2).getString(1) == "hello" &&
      r.getStruct(2).getString(2) == "en-US")
    assert(r.getStruct(3).getString(3) == "http://www.w3.org/2001/XMLSchema#string")
    assert(r.getStruct(4).getString(0) == "named")
    // datatype() equality on the constructed typed term
    val dtq = Sparql.parse(
      """select $x $v $dt where { $x v $v .
        |  bind ( strdt ( $v , http://g.test/custom ) as $dt ) .
        |  filter ( datatype ( $dt ) == http://g.test/custom ) }""".stripMargin)
    assert(Bgp.compile(triples, dtq).count() == 2)
    // arity fail-fasts
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $t where { $x v $v . bind ( strlang ( $v ) as $t ) }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $v $t where { $x v $v . bind ( iri ( $v , x ) as $t ) }"))
  }

  test("review r9: accessor comparisons go numeric per row; nested binds fail fast") {
    import spark.implicits._
    // strlen 10 vs 9: lexically "10" < "9" is TRUE — the comparison
    // must classify numerically per row, like the var-vs-var path
    val triples = Seq(
      ("a", "p1", "0123456789"), ("a", "p2", "012345678")).toDF("s", "p", "o")
    val lt = Bgp.compile(triples, Sparql.parse(
      """select $x $l $r where { $x p1 $l . $x p2 $r .
        |  filter ( strlen ( $l ) < strlen ( $r ) ) }""".stripMargin))
    assert(lt.count() == 0) // 10 < 9 is false
    val gt = Bgp.compile(triples, Sparql.parse(
      """select $x $l $r where { $x p1 $l . $x p2 $r .
        |  filter ( strlen ( $l ) > strlen ( $r ) ) }""".stripMargin))
    assert(gt.count() == 1)
    // ENCODE_FOR_URI (§17.4.3.4): unreserved chars pass, the rest
    // percent-encode — including '+' (%2B not '+') and space (%20)
    val eTriples = Seq(("a", "v", "A-b_c.d~e f+g/h")).toDF("s", "p", "o")
    val enc = Bgp.compile(eTriples, Sparql.parse(
      "select $x $v $e where { $x v $v . bind ( encode_for_uri ( $v ) as $e ) }"))
      .collect().head.getString(2)
    assert(enc == "A-b_c.d~e%20f%2Bg%2Fh", s"got $enc")
    // a nested call in a literal bind position errors instead of
    // silently becoming the literal string "ucase($a)"
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $a $z where { $a v x . bind ( concat ( ucase ( $a ) , b ) as $z ) }"))
    // replace's pattern/replacement are literal-only, like strbefore
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $a $p $z where { $a v $p . bind ( replace ( $a , $p , x ) as $z ) }"))
  }

  test("having conjunction: both aggregate bounds apply") {
    import spark.implicits._
    val triples = Seq(
      ("g1", "has", "a"), ("g1", "has", "b"), ("g1", "has", "c"),
      ("g2", "has", "d"), ("g2", "has", "e"),
      ("g3", "has", "f")).toDF("s", "p", "o")
    val q = Sparql.parse(
      """select $g count($m) where { $g has $m }
        |group by $g having ( count($m) >= 2 && count($m) <= 2 )""".stripMargin)
    val rows = Bgp.compile(triples, q).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("g2")) // exactly 2 members
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $g count($m) where { $g has $m } group by $g having ( count($m) >= )"))
  }

  test("multi-variable VALUES keeps row combinations, not the cross product (§10.2)") {
    import spark.implicits._
    val triples = Seq(
      ("a", "color", "red"), ("a", "size", "big"),
      ("b", "color", "red"), ("b", "size", "small"),
      ("c", "color", "blue"), ("c", "size", "big")).toDF("s", "p", "o")
    val q = Sparql.parse(
      """select $x $col $sz where {
        |  $x color $col . $x size $sz .
        |  values ( $col $sz ) { ( red big ) ( blue big ) }
        |}""".stripMargin)
    val rows = Bgp.compile(triples, q).orderBy("x").collect().toSeq
    // (red, small) is excluded even though red and small each appear in
    // some row — the pair filter is the point of the multi-var form
    assert(rows.map(_.getString(0)) == Seq("a", "c"))
    // fail-fasts: width mismatch, variable rows, undeclared variable
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $c where { $x color $c . values ( $c ) { ( red big ) } }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $c where { $x color $c . values ( $c ) { ( $x ) } }"))
    assertThrows[IllegalArgumentException](Sparql.parse(
      "select $x $c where { $x color $c . values ( $q ) { ( red ) } }"))
  }
}
