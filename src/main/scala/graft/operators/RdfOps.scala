package graft.operators

import graft.Tables._
import graft.query.{Bgp, Sparql}
import graft.rdf.RdfTerm
import graft.store.Dict
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's query surface (SURVEY §2.1-2.3) exercised against a
  * triple view derived from the relational testdata, so that every
  * access path, the BGP conjunction, mutations, dictionary encoding and
  * the persistence round-trip are all checkable against a DuckDB
  * oracle running plain SQL on the same parquet tables.
  *
  * The triple view (a labeled directed graph):
  *   (n_name)  --in_region-->  (r_name)
  *   (c_name)  --in_nation-->  (n_name)
  *   (s_name)  --in_nation-->  (n_name)
  *   (c_name)  --in_segment--> (c_mktsegment)
  *
  * All eight bound/unbound triple-pattern shapes (reference:
  * graph.rs:842-1009) compile to ONE Catalyst filter each — predicate
  * pushdown subsumes the reference's 8-way access-path dispatch.
  */
object RdfOps {

  /** A string column as a named term ([[RdfTerm.column]]), whose schema
    * is EXACTLY the [[RdfTerm]] product encoder's, so `.as[Triple]` /
    * `.as[Quad]` over a [[namedTriples]]/[[namedQuads]] projection is
    * an analysis-time view — no deserialize-to-object/serialize
    * boundary in the plan. The former row-by-row typed map
    * (`.map(Triple(RdfTerm.named(_), …))`) paid an object round-trip
    * per row AND split whole-stage codegen at both ends (guide §4:
    * prefer codegen-friendly expressions over Scala closures). */
  private def iri(c: Column): Column = RdfTerm.column(RdfTerm.Named, c)

  /** (s, p, o) string columns → `Dataset[Triple]` of named terms as a
    * pure codegen projection — see [[iri]]. */
  private[graft] def namedTriples(df: DataFrame): Dataset[graft.rdf.Triple] = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(iri(df("s")).as("s"), iri(df("p")).as("p"), iri(df("o")).as("o"))
      .as[graft.rdf.Triple]
  }

  /** (g, s, p, o) string columns → `Dataset[Quad]` of named terms as a
    * pure codegen projection — see [[iri]]. */
  private[graft] def namedQuads(df: DataFrame): Dataset[graft.rdf.Quad] = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(iri(df("g")).as("g"), iri(df("s")).as("s"), iri(df("p")).as("p"),
      iri(df("o")).as("o")).as[graft.rdf.Quad]
  }

  /** The shared triple view. Dimension joins are broadcast. */
  def tripleView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r = region(s, d)
    val n = nation(s, d)
    val c = customer(s, d)
    val sup = supplier(s, d)
    val nr = n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .select($"n_name".as("s"), lit("in_region").as("p"), $"r_name".as("o"))
    val cn = c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select($"c_name".as("s"), lit("in_nation").as("p"), $"n_name".as("o"))
    val sn = sup.join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .select($"s_name".as("s"), lit("in_nation").as("p"), $"n_name".as("o"))
    val cs = c.select($"c_name".as("s"), lit("in_segment").as("p"), $"c_mktsegment".as("o"))
    nr.union(cn).union(sn).union(cs)
  }

  /** DuckDB CTE equivalent of [[tripleView]], prefixed to oracle SQL. */
  val tripleViewSql: String =
    """WITH t AS (
      |  SELECT n_name AS s, 'in_region' AS p, r_name AS o
      |    FROM nation JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL
      |  SELECT c_name, 'in_nation', n_name
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT s_name, 'in_nation', n_name
      |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT c_name, 'in_segment', c_mktsegment FROM customer
      |)""".stripMargin

  private def sorted(df: DataFrame): DataFrame = {
    df.orderBy(df.columns.map(df(_)).toSeq: _*)
  }

  /** One access path = ONE filter with whatever positions are bound
    * (SURVEY §2.3: Catalyst predicate pushdown + partition pruning
    * subsume the reference's 8-way dispatch, graph.rs:842-853). */
  private def accessPath(s: SparkSession, d: String,
      sv: Option[String], pv: Option[String], ov: Option[String]): DataFrame = {
    var df = tripleView(s, d)
    sv.foreach(v => df = df.filter(df("s") === v))
    pv.foreach(v => df = df.filter(df("p") === v))
    ov.foreach(v => df = df.filter(df("o") === v))
    sorted(df.select("s", "p", "o"))
  }

  private def apSql(conds: Seq[String]): String = {
    val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
    s"$tripleViewSql\nSELECT s, p, o FROM t $where ORDER BY s, p, o"
  }

  // The 8 access paths (reference Q3-Q10, graph.rs:854-1009)
  def apSpo(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, Some("NATION_2"), Some("in_region"), Some("ASIA"))
  val apSpoSql: String = apSql(Seq("s = 'NATION_2'", "p = 'in_region'", "o = 'ASIA'"))

  def apPo(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, None, Some("in_region"), Some("ASIA"))
  val apPoSql: String = apSql(Seq("p = 'in_region'", "o = 'ASIA'"))

  def apSo(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, Some("NATION_2"), None, Some("ASIA"))
  val apSoSql: String = apSql(Seq("s = 'NATION_2'", "o = 'ASIA'"))

  def apSp(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, Some("NATION_2"), Some("in_region"), None)
  val apSpSql: String = apSql(Seq("s = 'NATION_2'", "p = 'in_region'"))

  def apO(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, None, None, Some("ASIA"))
  val apOSql: String = apSql(Seq("o = 'ASIA'"))

  def apP(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, None, Some("in_nation"), None)
  val apPSql: String = apSql(Seq("p = 'in_nation'"))

  def apS(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, Some("NATION_2"), None, None)
  val apSSql: String = apSql(Seq("s = 'NATION_2'"))

  def apFull(s: SparkSession, d: String): DataFrame =
    accessPath(s, d, None, None, None)
  val apFullSql: String = apSql(Nil)

  /** Conjunctive BGP with two shared variables (reference Q1,
    * graph.rs:333-413, generalized to n-variable joins): customers in
    * an ASIA nation with BUILDING segment. */
  def bgpJoin(s: SparkSession, d: String): DataFrame = {
    val q = Sparql()
      .select(Seq("$c", "$n"))
      .filter(Seq(
        Seq("$c", "in_nation", "$n"),
        Seq("$n", "in_region", "ASIA"),
        Seq("$c", "in_segment", "BUILDING")))
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpJoinSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT t1.s AS c, t1.o AS n
       |FROM t t1, t t2, t t3
       |WHERE t1.p = 'in_nation'
       |  AND t2.p = 'in_region' AND t2.o = 'ASIA' AND t2.s = t1.o
       |  AND t3.p = 'in_segment' AND t3.o = 'BUILDING' AND t3.s = t1.s
       |ORDER BY c, n""".stripMargin

  /** OPTIONAL (left-join) BGP — beyond the reference, standard SPARQL:
    * every entity with a nation, plus its market segment IF it has one
    * (customers do, suppliers don't → real nulls). Parsed from the
    * string front-end to exercise the full path. */
  def bgpOptional(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $x $n $seg where { $x in_nation $n . optional { $x in_segment $seg } }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("x"), res("n"), res("seg"))
  }
  val bgpOptionalSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT req.s AS x, req.o AS n, opt.o AS seg
       |FROM (SELECT * FROM t WHERE p = 'in_nation') req
       |LEFT JOIN (SELECT * FROM t WHERE p = 'in_segment') opt
       |  ON req.s = opt.s
       |ORDER BY x, n, seg""".stripMargin

  /** FILTER BGP — value constraints on the joined solution (beyond
    * the reference, standard SPARQL): ASIA customers excluding one
    * nation, parsed from the string front-end. */
  def bgpFilter(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n where {
        |  $c in_nation $n . $n in_region ASIA . filter ( $n != NATION_2 )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpFilterSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT t1.s AS c, t1.o AS n
       |FROM t t1 JOIN t t2 ON t1.o = t2.s
       |WHERE t1.p = 'in_nation'
       |  AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |  AND t1.o <> 'NATION_2'
       |ORDER BY c, n""".stripMargin

  /** NUMERIC FILTER BGP (round-3 verdict #1b): object terms are numeric
    * strings, and `filter ( $k < 9 )` must dispatch to a NUMERIC
    * comparison — a lexicographic compare would wrongly admit "10".."24"
    * (since '1' < '9'), so this oracle fails if the string-compare bug
    * regresses. */
  def bgpFilterNum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val numView = customer(s, d).select(
      $"c_name".as("s"), lit("has_nationkey").as("p"),
      $"c_nationkey".cast("string").as("o"))
    val q = Sparql.parse(
      "select $c $k where { $c has_nationkey $k . filter ( $k < 9 ) }")
    val res = Bgp.compile(numView, q)
    res.orderBy(res("c"), res("k"))
  }
  val bgpFilterNumSql: String =
    """SELECT DISTINCT c_name AS c, CAST(c_nationkey AS VARCHAR) AS k
      |FROM customer WHERE c_nationkey < 9
      |ORDER BY c, k""".stripMargin

  /** Var-vs-var numeric FILTER (round-4 ADVICE): with no literal to
    * classify the comparison at parse time, `filter ( $k < $l )` must
    * classify per row — both terms numeric ⇒ numeric compare. The
    * nationkey ("0".."24") vs name-length ("18") pairing is chosen so a
    * lexicographic compare gives a different row set ("9" < "18" is
    * false lexically, true numerically). */
  def bgpFilterVarVar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val numView = c.select(
        $"c_name".as("s"), lit("has_nationkey").as("p"),
        $"c_nationkey".cast("string").as("o"))
      .union(c.select(
        $"c_name".as("s"), lit("name_len").as("p"),
        length($"c_name").cast("string").as("o")))
    val q = Sparql.parse(
      "select $c $k $l where { $c has_nationkey $k . $c name_len $l . filter ( $k < $l ) }")
    val res = Bgp.compile(numView, q)
    res.orderBy(res("c"), res("k"), res("l"))
  }
  val bgpFilterVarVarSql: String =
    """SELECT DISTINCT c_name AS c, CAST(c_nationkey AS VARCHAR) AS k,
      |  CAST(length(c_name) AS VARCHAR) AS l
      |FROM customer WHERE c_nationkey < length(c_name)
      |ORDER BY c, k, l""".stripMargin

  /** SPARQL 1.1 aggregation through the string front-end (beyond the
    * reference, which has no aggregates): customers per ASIA nation +
    * the lexicographically first customer name. Set semantics (the
    * engine's distinct-solutions model) make count ≡ COUNT(DISTINCT)
    * on the oracle side. */
  def bgpGroupCount(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n count($c) min($c) where {
        |  $c in_nation $n . $n in_region ASIA
        |} group by $n order by $n""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupCountSql: String =
    s"""$tripleViewSql
       |SELECT t1.o AS n, count(DISTINCT t1.s) AS count_c, min(t1.s) AS min_c
       |FROM t t1 JOIN t t2 ON t1.o = t2.s
       |WHERE t1.p = 'in_nation' AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |GROUP BY t1.o ORDER BY n""".stripMargin

  /** count(*) MIXED with a value aggregate (round-5 advice): the two
    * families aggregate from their own pre-projections — count(*) over
    * distinct whole solutions (c,s,n), count($s) over distinct (n,s) —
    * so per ASIA nation the first counts its customers (each customer
    * binds one segment) while the second counts its distinct segments
    * (5). Before the fix count($s) silently became a per-solution
    * multiset count equal to count(*). */
  def bgpGroupMixed(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n count(*) count($s) where {
        |  $c in_nation $n . $c in_segment $s . $n in_region ASIA
        |} group by $n order by $n""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupMixedSql: String =
    s"""$tripleViewSql
       |, sol AS (
       |  SELECT DISTINCT t1.s AS c, t1.o AS n, t2.o AS seg
       |  FROM t t1 JOIN t t2 ON t1.s = t2.s JOIN t t3 ON t1.o = t3.s
       |  WHERE t1.p = 'in_nation' AND t2.p = 'in_segment'
       |    AND t3.p = 'in_region' AND t3.o = 'ASIA')
       |SELECT n, count(*) AS count_all, count(DISTINCT seg) AS count_s
       |FROM sol GROUP BY n ORDER BY n""".stripMargin

  /** VALUES inline data (SPARQL 1.1): the variable is restricted to an
    * enumerated term set, compiling to an IN filter that pushes down to
    * the scan like an equality predicate. */
  def bgpValues(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $c $n where { $c in_nation $n . values $n { NATION_2 NATION_7 } }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpValuesSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n FROM t
       |WHERE p = 'in_nation' AND o IN ('NATION_2', 'NATION_7')
       |ORDER BY c, n""".stripMargin

  /** Multi-variable VALUES (SPARQL 1.1 §10.2 full form): the
    * (nation, segment) pair may only take the two enumerated row
    * combinations — NOT the 2×2 cross product a pair of single-var
    * VALUES would allow. Compiles to a left-semi join against the
    * broadcast inline table. */
  def bgpValuesMulti(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $seg where {
        |  $c in_nation $n . $c in_segment $seg .
        |  values ( $n $seg ) { ( NATION_2 BUILDING ) ( NATION_7 AUTOMOBILE ) }
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"), res("seg"))
  }
  val bgpValuesMultiSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT a.s AS c, a.o AS n, b.o AS seg
       |FROM t a JOIN t b ON a.s = b.s
       |WHERE a.p = 'in_nation' AND b.p = 'in_segment'
       |  AND ((a.o = 'NATION_2' AND b.o = 'BUILDING') OR
       |       (a.o = 'NATION_7' AND b.o = 'AUTOMOBILE'))
       |ORDER BY c, n, seg""".stripMargin

  /** VALUES with UNDEF cells (SPARQL 1.1 §10.2): the row
    * (NATION_2, undef) admits EVERY segment for NATION_2 customers,
    * while (NATION_7, AUTOMOBILE) stays fully bound — compiled as an
    * OR-of-ANDs filter (see Sparql.valuesTable), which the oracle
    * states directly as the same disjunction. */
  def bgpValuesUndef(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $seg where {
        |  $c in_nation $n . $c in_segment $seg .
        |  values ( $n $seg ) { ( NATION_2 undef ) ( NATION_7 AUTOMOBILE ) }
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"), res("seg"))
  }
  val bgpValuesUndefSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT a.s AS c, a.o AS n, b.o AS seg
       |FROM t a JOIN t b ON a.s = b.s
       |WHERE a.p = 'in_nation' AND b.p = 'in_segment'
       |  AND (a.o = 'NATION_2' OR
       |       (a.o = 'NATION_7' AND b.o = 'AUTOMOBILE'))
       |ORDER BY c, n, seg""".stripMargin

  /** MINUS (SPARQL 1.1): members of NATION_2 minus the BUILDING-segment
    * customers — an anti-join on the shared variable. Suppliers survive
    * (they have no segment at all, so nothing is compatible). */
  def bgpMinus(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $c where { $c in_nation NATION_2 . minus { $c in_segment BUILDING } }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"))
  }
  val bgpMinusSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c FROM t
       |WHERE p = 'in_nation' AND o = 'NATION_2'
       |  AND s NOT IN (SELECT s FROM t WHERE p = 'in_segment' AND o = 'BUILDING')
       |ORDER BY c""".stripMargin

  /** FILTER EXISTS / NOT EXISTS (SPARQL 1.1): BUILDING-segment
    * customers split by whether they are members of NATION_2 — the two
    * polarities land as one result with a tag column, so the oracle
    * checks the semi-join AND the anti-join. */
  def bgpExists(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = tripleView(s, d)
    val in = Bgp.compile(t, Sparql.parse(
      "select $c where { $c in_segment BUILDING . filter exists { $c in_nation NATION_2 } }"))
    val out = Bgp.compile(t, Sparql.parse(
      "select $c where { $c in_segment BUILDING . filter not exists { $c in_nation NATION_2 } }"))
    in.withColumn("polarity", lit("in"))
      .unionByName(out.withColumn("polarity", lit("out")))
      .orderBy($"c")
  }
  val bgpExistsSql: String =
    s"""$tripleViewSql
       |, bld AS (SELECT DISTINCT s AS c FROM t
       |          WHERE p = 'in_segment' AND o = 'BUILDING'),
       |n2 AS (SELECT s FROM t WHERE p = 'in_nation' AND o = 'NATION_2')
       |SELECT c, CASE WHEN c IN (SELECT s FROM n2) THEN 'in' ELSE 'out' END AS polarity
       |FROM bld ORDER BY c""".stripMargin

  /** BIND (SPARQL 1.1, restricted scalar set): computed variables
    * extend each solution — lowercased nation name and its length.
    * Outputs stay string-typed (the engine's term invariant), so the
    * oracle casts length to VARCHAR too. */
  def bgpBind(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n $u $l where { $n in_region ASIA .
        |  bind ( lcase($n) as $u ) . bind ( strlen($n) as $l ) }""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("n"))
  }
  val bgpBindSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS n, lower(s) AS u, CAST(length(s) AS VARCHAR) AS l
       |FROM t WHERE p = 'in_region' AND o = 'ASIA'
       |ORDER BY n""".stripMargin

  /** ZERO-OR-ONE property path (SPARQL 1.1 `p?`): the one-hop nation
    * chain plus every term reaching itself — no closure iteration. The
    * oracle states it as key equality or +1 adjacency. */
  def bgpPathOpt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val q = Sparql.parse("select $a $b where { $a next? $b }")
    val res = Bgp.compile(chain, q)
    res.orderBy(res("a"), res("b"))
  }
  val bgpPathOptSql: String =
    """SELECT a.n_name AS a, b.n_name AS b
      |FROM nation a JOIN nation b
      |  ON b.n_nationkey = a.n_nationkey OR b.n_nationkey = a.n_nationkey + 1
      |ORDER BY a, b""".stripMargin

  /** GROUP_CONCAT + SAMPLE aggregates (SPARQL 1.1): nations per region,
    * concatenated in sorted order (the only deterministic choice) and
    * sampled as the minimum (a conforming arbitrary pick both engines
    * agree on). */
  def bgpGroupConcat(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $r group_concat($n) sample($n) where { $n in_region $r }
        |group by $r order by $r""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupConcatSql: String =
    s"""$tripleViewSql
       |SELECT o AS r, string_agg(s, ';' ORDER BY s) AS group_concat_n,
       |  min(s) AS sample_n
       |FROM t WHERE p = 'in_region'
       |GROUP BY o ORDER BY r""".stripMargin

  /** ASK query form (SPARQL 1.1): existence with LIMIT-1 evaluation.
    * Two asks — one satisfiable, one not — land as one two-row result
    * so the oracle checks both polarities. */
  def bgpAsk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = tripleView(s, d)
    val yes = Bgp.ask(t, Sparql.parseAsk(
      "ask where { $c in_nation NATION_2 }"))
    val no = Bgp.ask(t, Sparql.parseAsk(
      "ask where { $c in_nation NARNIA }"))
    Seq(("nation2_member", yes), ("narnia_member", no))
      .toDF("q", "answer").orderBy($"q")
  }
  val bgpAskSql: String =
    s"""$tripleViewSql
       |SELECT 'nation2_member' AS q,
       |  EXISTS(SELECT 1 FROM t WHERE p = 'in_nation' AND o = 'NATION_2') AS answer
       |UNION ALL
       |SELECT 'narnia_member',
       |  EXISTS(SELECT 1 FROM t WHERE p = 'in_nation' AND o = 'NARNIA')
       |ORDER BY q""".stripMargin

  /** CONSTRUCT query form (SPARQL 1.1): rewrite the in_region edges as
    * a bidirectional located_in/contains pair — graph-to-graph
    * transformation whose output is itself a queryable triple view. */
  def bgpConstruct(s: SparkSession, d: String): DataFrame = {
    val (tmpl, q) = Sparql.parseConstruct(
      """construct { $n located_in $r . $r contains $n }
        |where { $n in_region $r }""".stripMargin)
    val res = Bgp.construct(tripleView(s, d), tmpl, q)
    res.orderBy(res("s"), res("p"), res("o"))
  }
  val bgpConstructSql: String =
    s"""$tripleViewSql
       |SELECT s, 'located_in' AS p, o FROM t WHERE p = 'in_region'
       |UNION
       |SELECT o, 'contains', s FROM t WHERE p = 'in_region'
       |ORDER BY s, p, o""".stripMargin

  /** SEQUENCE property path (SPARQL 1.1): `in_nation/in_region`
    * rewrites to two joined patterns with a hidden midpoint variable —
    * members straight to their region, nation elided from the output. */
  def bgpPathSeq(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $c $r where { $c in_nation/in_region $r }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("r"))
  }
  val bgpPathSeqSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT t1.s AS c, t2.o AS r
       |FROM t t1 JOIN t t2 ON t1.o = t2.s
       |WHERE t1.p = 'in_nation' AND t2.p = 'in_region'
       |ORDER BY c, r""".stripMargin

  /** TRANSITIVE property path (SPARQL 1.1 `p+`): one-or-more closure
    * by delta-restricted doubling on Fixpoint.iterate (Bgp.pathDf with
    * {1,∞} hops). The nation chain NATION_k →next→ NATION_k+1 closes
    * to every ordered pair, which
    * the oracle states directly as a key inequality — an independent
    * formulation of the same closure. */
  def bgpPathTrans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val q = Sparql.parse("select $a $b where { $a next+ $b }")
    val res = Bgp.compile(chain, q)
    res.orderBy(res("a"), res("b"))
  }
  val bgpPathTransSql: String =
    """SELECT a.n_name AS a, b.n_name AS b
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      |ORDER BY a, b""".stripMargin

  /** BOUND-ENDPOINT transitive paths (round-7 verdict #1): `<seed> p+
    * $y` and `$x p+ <seed>` must evaluate by seed-restricted frontier
    * BFS — the closure analogue of the reference's bound-position
    * dispatch (graph.rs:842-853) — never by computing the all-pairs
    * closure and filtering. Both directions land as one result with a
    * `dir` tag; ScaleSpec pins that neither plan contains a join of
    * the reach set with itself (in fact no join at all). */
  def bgpPathBound(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val fwd = Bgp.compile(chain,
      Sparql.parse("select $b where { NATION_2 next+ $b }"))
    val bwd = Bgp.compile(chain,
      Sparql.parse("select $a where { $a next+ NATION_20 }"))
    fwd.select(lit("fwd").as("dir"), $"b".as("n"))
      .unionByName(bwd.select(lit("bwd").as("dir"), $"a".as("n")))
      .orderBy($"dir", $"n")
  }
  val bgpPathBoundSql: String =
    """SELECT 'fwd' AS dir, n_name AS n FROM nation WHERE n_nationkey > 2
      |UNION ALL
      |SELECT 'bwd', n_name FROM nation WHERE n_nationkey < 20
      |ORDER BY dir, n""".stripMargin

  /** SEQUENCE path MIXING a closure step with a plain step (round-7
    * verdict #6): `next+/in_region` — the parser's `/` rewrite leaves
    * each step token intact, so the first step compiles to a closure
    * and the second to a plain pattern joined on the hidden midpoint.
    * View = the nation chain plus the in_region edges. */
  def bgpPathSeqTrans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val nr = nation(s, d).join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
      .select($"n_name".as("s"), lit("in_region").as("p"), $"r_name".as("o"))
    val q = Sparql.parse("select $a $r where { $a next+/in_region $r }")
    val res = Bgp.compile(chain.union(nr), q)
    res.orderBy(res("a"), res("r"))
  }
  val bgpPathSeqTransSql: String =
    """SELECT DISTINCT a.n_name AS a, r.r_name AS r
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      |JOIN region r ON b.n_regionkey = r.r_regionkey
      |ORDER BY a, r""".stripMargin

  /** ZERO-OR-MORE property path (SPARQL 1.1 `p*`): the transitive
    * closure of the nation chain plus every graph term reaching itself
    * — the oracle states it as the non-strict key inequality. */
  def bgpPathStar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val q = Sparql.parse("select $a $b where { $a next* $b }")
    val res = Bgp.compile(chain, q)
    res.orderBy(res("a"), res("b"))
  }
  val bgpPathStarSql: String =
    """SELECT a.n_name AS a, b.n_name AS b
      |FROM nation a JOIN nation b ON a.n_nationkey <= b.n_nationkey
      |ORDER BY a, b""".stripMargin

  /** INVERSE property path (SPARQL 1.1 `^p`): nations to their members
    * — the in_nation edge walked object→subject. */
  def bgpPathInv(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse("select $n $m where { $n ^in_nation $m }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("n"), res("m"))
  }
  val bgpPathInvSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT o AS n, s AS m FROM t WHERE p = 'in_nation'
       |ORDER BY n, m""".stripMargin

  /** ALTERNATION property path (SPARQL 1.1 `p1|p2`): every branch is a
    * plain predicate, so the compile stays ONE scan with an IN filter
    * (pinned in ScaleSpec) — no union of per-branch passes. */
  def bgpPathAlt(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse("select $s $x where { $s in_region|in_segment $x }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("s"), res("x"))
  }
  val bgpPathAltSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s, o AS x FROM t WHERE p IN ('in_region', 'in_segment')
       |ORDER BY s, x""".stripMargin

  /** NEGATED PROPERTY SET (SPARQL 1.1 §9.1 `!(p1|p2)`, token form
    * `!p1|p2`): every edge whose predicate is NOT in the set — one
    * scan with a pushed NOT-IN, the complement of [[bgpPathAlt]]. */
  def bgpPathNegset(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse("select $s $x where { $s !in_nation|in_segment $x }")
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("s"), res("x"))
  }
  val bgpPathNegsetSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s, o AS x FROM t
       |WHERE p NOT IN ('in_nation', 'in_segment')
       |ORDER BY s, x""".stripMargin

  /** BOUNDED path quantifier `p{n,m}` (the SPARQL 1.1 draft quantifier,
    * a widely supported extension beyond the final REC): pairs exactly
    * 2 or 3 `next`-hops apart on the nation chain. Evaluates as a
    * FIXED m−1 composition rounds (Bgp.pathDf with {2,3}) — no fixpoint —
    * which the oracle states independently as a key-distance range. */
  def bgpPathQuant(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chain = nation(s, d)
      .filter($"n_nationkey" < 24)
      .select($"n_name".as("s"), lit("next").as("p"),
        concat(lit("NATION_"), ($"n_nationkey" + 1).cast("string")).as("o"))
    val q = Sparql.parse("select $a $b where { $a next{2,3} $b }")
    val res = Bgp.compile(chain, q)
    res.orderBy(res("a"), res("b"))
  }
  val bgpPathQuantSql: String =
    """SELECT a.n_name AS a, b.n_name AS b
      |FROM nation a JOIN nation b
      |  ON b.n_nationkey - a.n_nationkey BETWEEN 2 AND 3
      |ORDER BY a, b""".stripMargin

  /** Aggregate EXPRESSION input (SPARQL 1.1 §11.1, `sum(?x * ?y)`):
    * per market segment, the sum of nationkey × name-length over the
    * distinct (segment, key, length) solution projection — the
    * engine's documented set semantics, mirrored by the oracle's
    * DISTINCT subselect. Operands coerce to double per the SPARQL
    * numeric rules; the values are small ints, so the double sum is
    * exact (FLOATS.md Class B). */
  def bgpAggExpr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val numView = c.select(
        $"c_name".as("s"), lit("in_segment").as("p"), $"c_mktsegment".as("o"))
      .union(c.select(
        $"c_name".as("s"), lit("has_nationkey").as("p"),
        $"c_nationkey".cast("string").as("o")))
      .union(c.select(
        $"c_name".as("s"), lit("name_len").as("p"),
        length($"c_name").cast("string").as("o")))
    val q = Sparql.parse(
      """select $g sum($k*$l) avg($k+$l) where {
        |  $c in_segment $g . $c has_nationkey $k . $c name_len $l
        |} group by $g order by $g""".stripMargin)
    Bgp.compile(numView, q)
  }
  val bgpAggExprSql: String =
    """WITH sol AS (
      |  SELECT DISTINCT c_mktsegment AS g,
      |    CAST(c_nationkey AS DOUBLE) AS k,
      |    CAST(length(c_name) AS DOUBLE) AS l
      |  FROM customer)
      |SELECT g, sum(k * l) AS sum_k_mul_l, avg(k + l) AS avg_k_plus_l
      |FROM sol GROUP BY g ORDER BY g""".stripMargin

  /** EXISTS inside a FILTER expression (SPARQL 1.1 §8.1.1 — the
    * expression position, not just the standalone clause): BUILDING
    * customers whose nation is NOT in ASIA, conjoined with a plain
    * comparison in ONE filter. The parser lifts the [not] exists term
    * out of the && conjunction into an exists group (identical
    * semantics); the comparison stays a normal constraint. */
  def bgpFilterExistsExpr(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n where {
        |  $c in_segment BUILDING . $c in_nation $n .
        |  filter ( not exists { $n in_region ASIA } && $n != NATION_0 )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpFilterExistsExprSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT b.s AS c, b2.o AS n
       |FROM t b JOIN t b2 ON b.s = b2.s
       |WHERE b.p = 'in_segment' AND b.o = 'BUILDING'
       |  AND b2.p = 'in_nation' AND b2.o <> 'NATION_0'
       |  AND b2.o NOT IN (SELECT s FROM t WHERE p = 'in_region' AND o = 'ASIA')
       |ORDER BY c, n""".stripMargin

  /** DESCRIBE query form (SPARQL 1.1, simple description): every
    * triple NATION_2 participates in — its region membership plus all
    * customers/suppliers in it — via ONE scan with an OR filter. */
  def bgpDescribe(s: SparkSession, d: String): DataFrame = {
    val res = Bgp.describe(tripleView(s, d), Sparql.parseDescribe("describe NATION_2"))
    res.orderBy(res("s"), res("p"), res("o"))
  }
  val bgpDescribeSql: String =
    s"""$tripleViewSql
       |SELECT s, p, o FROM t WHERE s = 'NATION_2' OR o = 'NATION_2'
       |ORDER BY s, p, o""".stripMargin

  /** GROUP BY + HAVING through the string front-end: nations keeping
    * at least 65 (distinct) customers. Exercises the post-aggregation
    * group filter with the numeric-literal dispatch. */
  def bgpGroupHaving(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n count($c) where { $c in_nation $n }
        |group by $n having ( count($c) >= 65 ) order by $n""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupHavingSql: String =
    s"""$tripleViewSql
       |SELECT o AS n, count(DISTINCT s) AS count_c
       |FROM t WHERE p = 'in_nation'
       |GROUP BY o HAVING count(DISTINCT s) >= 65
       |ORDER BY n""".stripMargin

  /** HAVING with &&-conjunction (round 9): both aggregate bounds
    * apply — nations with a member count INSIDE a band, which a
    * single-condition HAVING cannot express. */
  def bgpGroupHavingBand(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n count($m) where { $m in_nation $n }
        |group by $n having ( count($m) >= 60 && count($m) <= 70 )
        |order by $n""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupHavingBandSql: String =
    s"""$tripleViewSql
       |SELECT o AS n, count(DISTINCT s) AS count_m
       |FROM t WHERE p = 'in_nation'
       |GROUP BY o HAVING count(DISTINCT s) BETWEEN 60 AND 70
       |ORDER BY n""".stripMargin

  /** GROUP BY top-k: ORDER BY an AGGREGATE (`order by count($c) desc`)
    * — the query every analytics user writes first. The secondary
    * `$n asc` key breaks count ties so LIMIT is deterministic. Compiles
    * to TakeOrderedAndProject above the aggregation (no global sort). */
  def bgpGroupTopk(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $n count($c) where { $c in_nation $n . $n in_region ASIA }
        |group by $n order by count($c) desc $n asc limit 3""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpGroupTopkSql: String =
    s"""$tripleViewSql
       |SELECT t1.o AS n, count(DISTINCT t1.s) AS count_c
       |FROM t t1 JOIN t t2 ON t1.o = t2.s
       |WHERE t1.p = 'in_nation' AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |GROUP BY t1.o ORDER BY count_c DESC, n ASC LIMIT 3""".stripMargin

  /** Boolean FILTER connectives (`&&` / `||`, && binding tighter —
    * standard SPARQL, round-3 "missing" #1): customers in NATION_2, or
    * in NATION_7 with a name ending in 1. Exercises the DNF compile
    * path (OR of AND-groups) through the string front-end. */
  def bgpFilterBool(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n where {
        |  $c in_nation $n .
        |  filter ( $n == NATION_2 || $n == NATION_7 && $c regex 1$ )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpFilterBoolSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n FROM t
       |WHERE p = 'in_nation'
       |  AND (o = 'NATION_2' OR (o = 'NATION_7' AND regexp_matches(s, '1$$')))
       |ORDER BY c, n""".stripMargin

  /** FILTER `!bound()` with OPTIONAL — the SPARQL negation-by-failure
    * idiom (round-7 verdict #4): entities with a nation but NO segment
    * (suppliers — customers all bind one). `bound` maps to null tests
    * on the left-joined solution. */
  def bgpFilterBound(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $x $n $seg where {
        |  $x in_nation $n . optional { $x in_segment $seg } .
        |  filter ( !bound ( $seg ) )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("x"), res("n"))
  }
  val bgpFilterBoundSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT req.s AS x, req.o AS n, CAST(NULL AS VARCHAR) AS seg
       |FROM (SELECT * FROM t WHERE p = 'in_nation') req
       |LEFT JOIN (SELECT * FROM t WHERE p = 'in_segment') opt
       |  ON req.s = opt.s
       |WHERE opt.o IS NULL
       |ORDER BY x, n""".stripMargin

  /** String filter functions `strstarts`/`contains`/`strends` in a DNF
    * FILTER (SPARQL §17.4.3): NATION_1x nations, or _2-suffixed-decade
    * nations restricted to members whose name ends in 5. Exercises the
    * function-call grammar (nested parens + comma args) composed with
    * `||`/`&&`. */
  def bgpFilterStrFns(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n where {
        |  $c in_nation $n .
        |  filter ( strstarts ( $n , NATION_1 ) ||
        |           contains ( $n , _2 ) && strends ( $c , 5 ) )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpFilterStrFnsSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n FROM t
       |WHERE p = 'in_nation'
       |  AND (starts_with(o, 'NATION_1')
       |       OR (contains(o, '_2') AND ends_with(s, '5')))
       |ORDER BY c, n""".stripMargin

  /** Term-kind filter functions `isiri()`/`isliteral()` on the
    * kind-aware view (round-7 verdict #4): the same (s, p, o) pattern
    * filtered to IRI objects (the in_nation entity edges) vs literal
    * objects (the nation_label string edges) — the cross-kind value
    * collision makes a kind-blind implementation return both. */
  def bgpFilterIsiri(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = typedTripleView(s, d)
    def run(tag: String, fn: String): DataFrame =
      Bgp.compile(view,
          Sparql.parse(s"select $$x $$p $$o where { $$x $$p $$o . filter ( $fn ( $$o ) ) }"))
        .select(lit(tag).as("q"), $"x.value".as("x"), $"p.value".as("p"), $"o.value".as("o"))
    val res = run("iri", "isiri").union(run("lit", "isliteral"))
    res.orderBy(res("q"), res("x"), res("p"), res("o"))
  }
  val bgpFilterIsiriSql: String =
    """WITH t AS (
      |  SELECT c_name AS s, 'in_nation' AS p, 'named' AS o_kind, n_name AS o
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT c_name, 'nation_label', 'raw', n_name
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |)
      |SELECT q, x, p, o FROM (
      |  SELECT 'iri' AS q, s AS x, p, o FROM t WHERE o_kind = 'named'
      |  UNION ALL
      |  SELECT 'lit', s, p, o FROM t WHERE o_kind IN ('raw', 'lang', 'typed')) u
      |ORDER BY q, x, p, o""".stripMargin

  /** Literal term builders for the synthetic kind-aware views below —
    * the store's own term shape ([[RdfTerm.column]]), like [[iri]]. */
  private def langLit(c: Column, lg: Column) = RdfTerm.column(RdfTerm.Lang, c, lang = lg)
  private def raw(c: Column) = RdfTerm.column(RdfTerm.Raw, c)
  private def typed(c: Column, dt: String) = RdfTerm.column(RdfTerm.Typed, c, datatype = lit(dt))

  /** Lang-aware triple view: full 4-field term structs (kind, value,
    * lang, datatype) like the store's own ([[graft.store.TripleStore]]),
    * synthesized from customer — lang-tagged labels (en for even
    * nation keys, fr for odd), plain-literal segments, xsd:integer
    * nation numbers. Feeds the `lang()`/`datatype()` accessor tests. */
  def langTripleView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    c.select(iri($"c_name").as("s"), iri(lit("label")).as("p"),
        langLit($"c_name", when($"c_nationkey" % 2 === 0, "en").otherwise("fr")).as("o"))
      .union(c.select(iri($"c_name").as("s"), iri(lit("segment")).as("p"),
        raw($"c_mktsegment").as("o")))
      .union(c.select(iri($"c_name").as("s"), iri(lit("nation_no")).as("p"),
        typed($"c_nationkey".cast("string"), XsdInteger).as("o")))
  }
  private val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"

  /** FILTER accessors `lang()` / `datatype()` (SPARQL §17.4.2, round-8
    * verdict #5) on the lang-aware view: the same all-var pattern
    * filtered four ways — lang-en labels, plain literals (`lang() =
    * ""` spans raw AND typed, the spec's totalization), xsd:integer
    * typed terms, and rdf:langString (what `datatype()` returns for a
    * lang-tagged literal — RDF 1.1 §3.3). */
  def bgpFilterLang(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = langTripleView(s, d)
    def run(tag: String, filter: String): DataFrame =
      Bgp.compile(view,
          Sparql.parse(s"select $$x $$p $$o where { $$x $$p $$o . filter ( $filter ) }"))
        .select(lit(tag).as("q"), $"x.value".as("x"), $"p.value".as("p"), $"o.value".as("o"))
    val res = run("en", "lang ( $o ) == en")
      .union(run("plain", "lang ( $o ) == \"\""))
      .union(run("int", s"datatype ( $$o ) == <$XsdInteger>"))
      .union(run("tagged", s"datatype ( $$o ) == <${graft.query.Sparql.RdfLangString}>"))
    res.orderBy(res("q"), res("x"), res("p"), res("o"))
  }
  val bgpFilterLangSql: String = {
    val xsdString = graft.query.Sparql.XsdString
    val langString = graft.query.Sparql.RdfLangString
    s"""WITH tr AS (
       |  SELECT c_name AS x, 'label' AS p, c_name AS o, 'lang' AS kind,
       |         CASE WHEN c_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END AS o_lang,
       |         CAST(NULL AS VARCHAR) AS o_dt
       |  FROM customer
       |  UNION ALL
       |  SELECT c_name, 'segment', c_mktsegment, 'raw', NULL, NULL FROM customer
       |  UNION ALL
       |  SELECT c_name, 'nation_no', CAST(c_nationkey AS VARCHAR), 'typed', NULL,
       |         '$XsdInteger' FROM customer
       |),
       |v AS (
       |  SELECT x, p, o,
       |    CASE WHEN kind = 'lang' THEN COALESCE(o_lang, '')
       |         WHEN kind IN ('raw', 'typed') THEN '' END AS langv,
       |    CASE WHEN kind = 'typed' THEN o_dt
       |         WHEN kind = 'raw' THEN '$xsdString'
       |         WHEN kind = 'lang' THEN '$langString' END AS dtv
       |  FROM tr)
       |SELECT q, x, p, o FROM (
       |  SELECT 'en' AS q, x, p, o FROM v WHERE langv = 'en'
       |  UNION ALL SELECT 'plain', x, p, o FROM v WHERE langv = ''
       |  UNION ALL SELECT 'int', x, p, o FROM v WHERE dtv = '$XsdInteger'
       |  UNION ALL SELECT 'tagged', x, p, o FROM v WHERE dtv = '$langString') u
       |ORDER BY q, x, p, o""".stripMargin
  }

  /** FILTER `IN` / `NOT IN` + the `str()` accessor as a comparison
    * operand (SPARQL §17.4.1.9, round-8 verdict #5): nation membership
    * lists composed with a lexicographic `str()` bound and a regex. */
  def bgpFilterStrIn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = tripleView(s, d)
    def run(tag: String, q: String): DataFrame =
      Bgp.compile(view, Sparql.parse(q))
        .select(lit(tag).as("q"), col("c"), col("n"))
    val res = run("in",
      """select $c $n where { $c in_nation $n .
        |  filter ( $n in ( NATION_2 , NATION_7 , NATION_11 ) &&
        |           str ( $c ) >= Customer#000001000 ) }""".stripMargin)
      .union(run("notin",
        """select $c $n where { $c in_nation $n . $n in_region ASIA .
          |  filter ( $n not in ( NATION_5 , NATION_8 ) && $c regex 00$ ) }""".stripMargin))
    res.orderBy(res("q"), res("c"), res("n"))
  }
  val bgpFilterStrInSql: String =
    s"""$tripleViewSql
       |SELECT q, c, n FROM (
       |  SELECT 'in' AS q, s AS c, o AS n FROM t
       |  WHERE p = 'in_nation' AND o IN ('NATION_2', 'NATION_7', 'NATION_11')
       |    AND s >= 'Customer#000001000'
       |  UNION ALL
       |  SELECT DISTINCT 'notin', t1.s, t1.o FROM t t1 JOIN t t2 ON t1.o = t2.s
       |  WHERE t1.p = 'in_nation' AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |    AND t1.o NOT IN ('NATION_5', 'NATION_8')
       |    AND regexp_matches(t1.s, '00$$')) u
       |ORDER BY q, c, n""".stripMargin

  /** String-function remainder of §17.4.3: `strlen()`/`ucase()`/
    * `lcase()` as comparison accessors (strlen rides the numeric
    * dispatch) and 3-arg BIND `substr()` / `replace()`. */
  def bgpStrFuncs(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $kind $nn where {
        |  $c in_nation $n .
        |  filter ( strlen ( $n ) == 8 && ucase ( $c ) regex ^CUSTOMER ) .
        |  bind ( substr ( $c , 1 , 8 ) as $kind ) .
        |  bind ( replace ( $n , NATION_ , N ) as $nn )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("c"), res("n"))
  }
  val bgpStrFuncsSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n, substr(s, 1, 8) AS kind,
       |  regexp_replace(o, 'NATION_', 'N') AS nn
       |FROM t
       |WHERE p = 'in_nation' AND length(o) = 8
       |  AND regexp_matches(upper(s), '^CUSTOMER')
       |ORDER BY c, n""".stripMargin

  /** BIND `coalesce()` / `if(bound(…))` (SPARQL §17.4.1, round-8
    * verdict #5): the OPTIONAL-default idiom — entities keep their
    * segment when one exists, with a coalesced fallback and an
    * if-flag. Suppliers have no in_segment edge, so both branches of
    * each function are exercised. */
  def bgpBindCoalesce(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $x $n $seg $seg2 $flag where {
        |  $x in_nation $n . optional { $x in_segment $seg } .
        |  bind ( coalesce ( $seg , none ) as $seg2 ) .
        |  bind ( if ( bound ( $seg ) , yes , no ) as $flag )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("x"), res("n"))
  }
  val bgpBindCoalesceSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT req.s AS x, req.o AS n, opt.o AS seg,
       |  COALESCE(opt.o, 'none') AS seg2,
       |  CASE WHEN opt.o IS NOT NULL THEN 'yes' ELSE 'no' END AS flag
       |FROM (SELECT * FROM t WHERE p = 'in_nation') req
       |LEFT JOIN (SELECT * FROM t WHERE p = 'in_segment') opt
       |  ON req.s = opt.s
       |ORDER BY x, n""".stripMargin

  /** Infix arithmetic BIND (SPARQL §17.4 operator mapping): the
    * entity number parsed out of the name feeds `*`, `-`, `/` chains
    * with numeric promotion to double. Final arithmetic columns are
    * double on BOTH sides (the engine's string terms cast out), so the
    * comparison is bit-exact — `/8` keeps results on exact binary
    * fractions. */
  def bgpBindArith(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $num $dbl $off $ratio where {
        |  $c in_nation $n .
        |  bind ( substr ( $c , 10 , 9 ) as $num ) .
        |  bind ( $num * 2 as $dbl ) .
        |  bind ( $num - 1 as $off ) .
        |  bind ( $num / 8 as $ratio )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.select(res("c"), res("n"), res("num"), res("dbl").cast("double").as("dbl"),
        res("off").cast("double").as("off"), res("ratio").cast("double").as("ratio"))
      .orderBy("c", "n")
  }
  val bgpBindArithSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n, substr(s, 10, 9) AS num,
       |  CAST(substr(s, 10, 9) AS DOUBLE) * 2 AS dbl,
       |  CAST(substr(s, 10, 9) AS DOUBLE) - 1 AS off,
       |  CAST(substr(s, 10, 9) AS DOUBLE) / 8 AS ratio
       |FROM t WHERE p = 'in_nation'
       |ORDER BY c, n""".stripMargin

  /** String-builder BINDs (SPARQL §17.4.3): n-ary `concat()` with
    * literal separators, then `strbefore`/`strafter` splitting the
    * built label back apart — including the spec's miss → "" case
    * (strbefore on a separator the label doesn't contain). */
  def bgpBindStrops(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $lbl $pre $post $miss where {
        |  $c in_nation $n .
        |  bind ( concat ( $c , @ , $n ) as $lbl ) .
        |  bind ( strbefore ( $lbl , # ) as $pre ) .
        |  bind ( strafter ( $lbl , @ ) as $post ) .
        |  bind ( strbefore ( $n , @ ) as $miss )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy("c", "n")
  }
  val bgpBindStropsSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n, s || '@' || o AS lbl,
       |  CASE WHEN strpos(s || '@' || o, '#') > 0
       |       THEN substr(s || '@' || o, 1, strpos(s || '@' || o, '#') - 1)
       |       ELSE '' END AS pre,
       |  CASE WHEN strpos(s || '@' || o, '@') > 0
       |       THEN substr(s || '@' || o, strpos(s || '@' || o, '@') + 1,
       |                   length(s || '@' || o))
       |       ELSE '' END AS post,
       |  '' AS miss
       |FROM t WHERE p = 'in_nation'
       |ORDER BY c, n""".stripMargin

  /** `langMatches()` (RFC 4647 basic filtering — `en` matches `en`
    * AND `en-US`, `*` any tagged literal) plus `isNumeric()` on a
    * kind-aware view with three-way tags (en / en-US / fr by nation
    * key mod 3): prefix matching and the wildcard's tagged-only scope
    * are both exercised, and isNumeric picks exactly the typed
    * integer rows (lang-tagged numerics are excluded per spec). */
  def bgpFilterLangMatches(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val tag = when($"c_nationkey" % 3 === 0, "en")
      .when($"c_nationkey" % 3 === 1, "en-US").otherwise("fr")
    val view = c.select(iri($"c_name").as("s"), iri(lit("label")).as("p"),
        langLit($"c_name", tag).as("o"))
      .union(c.select(iri($"c_name").as("s"), iri(lit("segment")).as("p"),
        raw($"c_mktsegment").as("o")))
      .union(c.select(iri($"c_name").as("s"), iri(lit("nation_no")).as("p"),
        typed($"c_nationkey".cast("string"), XsdInteger).as("o")))
    def run(t: String, filter: String): DataFrame =
      Bgp.compile(view,
          Sparql.parse(s"select $$x $$p $$o where { $$x $$p $$o . filter ( $filter ) }"))
        .select(lit(t).as("q"), $"x.value".as("x"), $"p.value".as("p"), $"o.value".as("o"))
    val res = run("en", "langmatches ( lang ( $o ) , en )")
      .union(run("star", "langmatches ( lang ( $o ) , * )"))
      .union(run("num", "isnumeric ( $o )"))
    res.orderBy(res("q"), res("x"), res("p"), res("o"))
  }
  val bgpFilterLangMatchesSql: String =
    s"""WITH tr AS (
       |  SELECT c_name AS x, 'label' AS p, c_name AS o, 'lang' AS kind,
       |         CASE WHEN c_nationkey % 3 = 0 THEN 'en'
       |              WHEN c_nationkey % 3 = 1 THEN 'en-US' ELSE 'fr' END AS langv
       |  FROM customer
       |  UNION ALL
       |  SELECT c_name, 'segment', c_mktsegment, 'raw', '' FROM customer
       |  UNION ALL
       |  SELECT c_name, 'nation_no', CAST(c_nationkey AS VARCHAR), 'typed', ''
       |  FROM customer)
       |SELECT q, x, p, o FROM (
       |  SELECT 'en' AS q, x, p, o FROM tr
       |  WHERE lower(langv) = 'en' OR lower(langv) LIKE 'en-%'
       |  UNION ALL
       |  SELECT 'star', x, p, o FROM tr WHERE langv <> ''
       |  UNION ALL
       |  SELECT 'num', x, p, o FROM tr
       |  WHERE kind IN ('raw', 'typed') AND TRY_CAST(o AS DOUBLE) IS NOT NULL) u
       |ORDER BY q, x, p, o""".stripMargin

  /** Numeric BINDs (SPARQL §17.4.4): abs/round/ceil/floor over the
    * entity number, with `/8` fractions (exact binary, so doubles are
    * bit-identical cross-engine) and a shifted negative operand for
    * abs. ROUND ties go toward +∞ per spec — both engines compute
    * floor(x + 0.5). */
  def bgpBindNumeric(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $num $frac $shift $absv $rnd $up $dn where {
        |  $c in_nation $n .
        |  bind ( substr ( $c , 10 , 9 ) as $num ) .
        |  bind ( $num / 8 as $frac ) .
        |  bind ( $num - 20 as $shift ) .
        |  bind ( abs ( $shift ) as $absv ) .
        |  bind ( round ( $frac ) as $rnd ) .
        |  bind ( ceil ( $frac ) as $up ) .
        |  bind ( floor ( $frac ) as $dn )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.select(res("c"), res("n"), res("num"),
        res("frac").cast("double").as("frac"),
        res("shift").cast("double").as("shift"),
        res("absv").cast("double").as("absv"),
        res("rnd").cast("double").as("rnd"),
        res("up").cast("double").as("up"),
        res("dn").cast("double").as("dn"))
      .orderBy("c", "n")
  }
  val bgpBindNumericSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n, substr(s, 10, 9) AS num,
       |  CAST(substr(s, 10, 9) AS DOUBLE) / 8 AS frac,
       |  CAST(substr(s, 10, 9) AS DOUBLE) - 20 AS shift,
       |  abs(CAST(substr(s, 10, 9) AS DOUBLE) - 20) AS absv,
       |  floor(CAST(substr(s, 10, 9) AS DOUBLE) / 8 + 0.5) AS rnd,
       |  ceil(CAST(substr(s, 10, 9) AS DOUBLE) / 8) AS up,
       |  floor(CAST(substr(s, 10, 9) AS DOUBLE) / 8) AS dn
       |FROM t WHERE p = 'in_nation'
       |ORDER BY c, n""".stripMargin

  /** Hash BINDs (SPARQL §17.4.6): MD5 and SHA256 of the lexical form,
    * lowercase hex on both engines — Spark's codegen'd `md5`/`sha2`
    * against DuckDB's `md5`/`sha256`. (SHA1/384/512 are also wired as
    * bind fns; DuckDB lacks sha1, so they are spec-covered only.) */
  def bgpBindHash(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $h1 $h2 where {
        |  $c in_nation $n .
        |  bind ( md5 ( $c ) as $h1 ) .
        |  bind ( sha256 ( $c ) as $h2 )
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy("c", "n")
  }
  val bgpBindHashSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS c, o AS n, md5(s) AS h1, sha256(s) AS h2
       |FROM t WHERE p = 'in_nation'
       |ORDER BY c, n""".stripMargin

  /** Datetime accessor BINDs (SPARQL §17.4.5): YEAR/MONTH/DAY over
    * xsd:date lexical forms from the orders table (a date-valued
    * triple view: order_<key> --ordered_on--> '1995-03-15'). Derived
    * ints are BIGINT on both sides (DuckDB EXTRACT returns BIGINT). */
  def bgpBindDatetime(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = orders(s, d).select(
      concat(lit("order_"), $"o_orderkey".cast("string")).as("s"),
      lit("ordered_on").as("p"),
      $"o_orderdate".cast("string").as("o"))
    val q = Sparql.parse(
      """select $ord $d $y $m $dom where {
        |  $ord ordered_on $d .
        |  bind ( year ( $d ) as $y ) .
        |  bind ( month ( $d ) as $m ) .
        |  bind ( day ( $d ) as $dom )
        |}""".stripMargin)
    val res = Bgp.compile(view, q)
    res.select(res("ord"), res("d"),
        res("y").cast("bigint").as("y"),
        res("m").cast("bigint").as("m"),
        res("dom").cast("bigint").as("dom"))
      .orderBy("ord", "d")
  }
  val bgpBindDatetimeSql: String =
    """SELECT DISTINCT 'order_' || CAST(o_orderkey AS VARCHAR) AS ord,
      |  CAST(o_orderdate AS VARCHAR) AS d,
      |  EXTRACT(YEAR FROM o_orderdate) AS y,
      |  EXTRACT(MONTH FROM o_orderdate) AS m,
      |  EXTRACT(DAY FROM o_orderdate) AS dom
      |FROM orders
      |ORDER BY ord, d""".stripMargin

  /** sameTerm (SPARQL §17.4.1.8) on a kind-aware view: every customer
    * has a lang-tagged `label` and an `alias` that is the SAME term
    * (lang-tagged, en) for even nation keys but a plain literal with
    * the IDENTICAL lexical form for odd ones. sameTerm keeps only the
    * even rows; the `str($a) == str($b)` control keeps all — the pair
    * pins that term identity sees kind/lang, not just the value. */
  def bgpFilterSameterm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val even = $"c_nationkey" % 2 === 0
    val view = c.select(iri($"c_name").as("s"), iri(lit("label")).as("p"),
        langLit($"c_name", lit("en")).as("o"))
      .union(c.select(iri($"c_name").as("s"), iri(lit("alias")).as("p"),
        when(even, langLit($"c_name", lit("en")))
          .otherwise(raw($"c_name")).as("o")))
    def run(t: String, filter: String): DataFrame =
      Bgp.compile(view,
          Sparql.parse(
            s"""select $$x $$a $$b where {
               |  $$x label $$a . $$x alias $$b . filter ( $filter )
               |}""".stripMargin))
        .select(lit(t).as("q"), $"x.value".as("x"), $"a.value".as("a"),
          $"b.value".as("b"))
    val res = run("same", "sameterm ( $a , $b )")
      .union(run("eq", "str ( $a ) == str ( $b )"))
    res.orderBy(res("q"), res("x"))
  }
  val bgpFilterSametermSql: String =
    """SELECT q, x, a, b FROM (
      |  SELECT 'same' AS q, c_name AS x, c_name AS a, c_name AS b
      |  FROM customer WHERE c_nationkey % 2 = 0
      |  UNION ALL
      |  SELECT 'eq', c_name, c_name, c_name FROM customer) u
      |ORDER BY q, x""".stripMargin

  /** Term constructors (SPARQL §17.4.2.5-7): STRLANG re-tags each
    * customer name with a pattern-bound tag (en for even nation keys,
    * fr for odd), and `langmatches(lang($lt), en)` keeps ONLY the even
    * rows — the constructed term's lang field is live, not cosmetic.
    * STRDT and IRI() construct typed/IRI terms on the survivors, read
    * back through datatype() equality and isIRI(). */
  def bgpBindTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val tag = when($"c_nationkey" % 2 === 0, "en").otherwise("fr")
    val view = c.select(iri($"c_name").as("s"), iri(lit("name")).as("p"),
        raw($"c_name").as("o"))
      .union(c.select(iri($"c_name").as("s"), iri(lit("tag")).as("p"),
        raw(tag).as("o")))
    val q = Sparql.parse(
      """select $x $v $t $lt $dt $u where {
        |  $x name $v . $x tag $t .
        |  bind ( strlang ( $v , $t ) as $lt ) .
        |  bind ( strdt ( $v , http://www.w3.org/2001/XMLSchema#string ) as $dt ) .
        |  bind ( iri ( $v ) as $u ) .
        |  filter ( langmatches ( lang ( $lt ) , en ) ) .
        |  filter ( datatype ( $dt ) == http://www.w3.org/2001/XMLSchema#string ) .
        |  filter ( isiri ( $u ) )
        |}""".stripMargin)
    val res = Bgp.compile(view, q)
    res.select($"x.value".as("x"), $"v.value".as("v"),
        $"t.value".as("t"), $"lt.value".as("lt"),
        $"lt.lang".as("lt_lang"), $"dt.datatype".as("dt_dt"),
        $"u.kind".as("u_kind"))
      .orderBy("x")
  }
  val bgpBindTermsSql: String =
    """SELECT c_name AS x, c_name AS v, 'en' AS t, c_name AS lt,
      |  'en' AS lt_lang,
      |  'http://www.w3.org/2001/XMLSchema#string' AS dt_dt,
      |  'named' AS u_kind
      |FROM customer WHERE c_nationkey % 2 = 0
      |ORDER BY x""".stripMargin

  /** Solution modifiers (round-3 verdict #7 — beyond the reference,
    * standard SPARQL): DISTINCT + ORDER BY … DESC/ASC + LIMIT through
    * the parsed string front-end. The (c, n) pair is the whole row, so
    * the two-key order totally ranks rows and LIMIT is deterministic. */
  def bgpOrderLimit(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select distinct $c $n where {
        |  $c in_nation $n . $n in_region ASIA
        |} order by $n desc $c asc limit 50""".stripMargin)
    Bgp.compile(tripleView(s, d), q)
  }
  val bgpOrderLimitSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT t1.s AS c, t1.o AS n
       |FROM t t1 JOIN t t2 ON t1.o = t2.s
       |WHERE t1.p = 'in_nation' AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |ORDER BY n DESC, c ASC LIMIT 50""".stripMargin

  /** SUBQUERY (SPARQL 1.1 §12): join the outer pattern against an
    * aggregating inner select — members of nations with ≥65 distinct
    * customers, carrying the count out. The inner $c is scoped to the
    * subquery (only projected variables join), so the outer $m ranges
    * over customers AND suppliers while the count stays customer+
    * supplier-wide per nation. */
  def bgpSubquery(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $m $n where {
        |  $m in_nation $n .
        |  { select $n count($c) where { $c in_nation $n }
        |    group by $n having ( count($c) >= 65 ) }
        |}""".stripMargin)
    val res = Bgp.compile(tripleView(s, d), q)
    res.orderBy(res("m"), res("n"))
  }
  val bgpSubquerySql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s AS m, o AS n FROM t
       |WHERE p = 'in_nation' AND o IN (
       |  SELECT o FROM t WHERE p = 'in_nation'
       |  GROUP BY o HAVING count(DISTINCT s) >= 65)
       |ORDER BY m, n""".stripMargin

  /** Kind-aware triple view: the same graph shape as [[tripleView]] but
    * terms are (kind, value) structs, with a deliberate cross-kind value
    * collision — every nation name appears BOTH as an IRI (`in_nation`
    * object, an entity) and as a raw literal (`nation_label` object, a
    * string). Typed patterns must tell them apart. */
  def typedTripleView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Column
    def iri(c: Column) = struct(lit("named").as("kind"), c.as("value"))
    def raw(c: Column) = struct(lit("raw").as("kind"), c.as("value"))
    val cn = customer(s, d).join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
    cn.select(iri($"c_name").as("s"), iri(lit("in_nation")).as("p"), iri($"n_name").as("o"))
      .union(cn.select(iri($"c_name").as("s"), iri(lit("nation_label")).as("p"),
        raw($"n_name").as("o")))
  }

  /** TYPED pattern matching (round-3 verdict #9): the same lexical
    * object value queried three ways — literal-typed (`"NATION_2"`),
    * IRI-typed (`<NATION_2>`), and bare (kind-agnostic, the documented
    * round-1 divergence). Each alternative must select exactly its
    * kind's edges; the bare form returns both. */
  def bgpTyped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = typedTripleView(s, d)
    def run(tag: String, pattern: String): DataFrame =
      Bgp.compile(view, Sparql.parse(s"select $$x $$p where { $$x $$p $pattern }"))
        .select(lit(tag).as("q"), $"x.value".as("x"), $"p.value".as("p"))
    val res = run("lit", "\"NATION_2\"")
      .union(run("iri", "<NATION_2>"))
      .union(run("any", "NATION_2"))
    res.orderBy(res("q"), res("x"), res("p"))
  }
  val bgpTypedSql: String =
    """WITH t AS (
      |  SELECT c_name AS s, 'in_nation' AS p, 'named' AS o_kind, n_name AS o
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT c_name, 'nation_label', 'raw', n_name
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |)
      |SELECT q, x, p FROM (
      |  SELECT DISTINCT 'lit' AS q, s AS x, p
      |    FROM t WHERE o = 'NATION_2' AND o_kind IN ('raw', 'lang', 'typed')
      |  UNION ALL
      |  SELECT DISTINCT 'iri', s, p FROM t WHERE o = 'NATION_2' AND o_kind = 'named'
      |  UNION ALL
      |  SELECT DISTINCT 'any', s, p FROM t WHERE o = 'NATION_2') u
      |ORDER BY q, x, p""".stripMargin

  /** UNION BGP — the remaining piece of the SPARQL algebra trio
    * (conjunction, OPTIONAL, UNION): entities in an ASIA nation,
    * whether customers (via in_nation) or nations themselves (via
    * in_region). Parsed from the string front-end. */
  def bgpUnion(s: SparkSession, d: String): DataFrame = {
    val qs = Sparql.parseUnion(
      """select $x $n where {
        |  { $x in_nation $n . $n in_region ASIA }
        |  union
        |  { $x in_region ASIA . $x in_region $n }
        |}""".stripMargin)
    val res = Bgp.compileUnion(tripleView(s, d), qs)
    res.orderBy(res("x"), res("n"))
  }
  val bgpUnionSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT x, n FROM (
       |  SELECT t1.s AS x, t1.o AS n
       |  FROM t t1 JOIN t t2 ON t1.o = t2.s
       |  WHERE t1.p = 'in_nation' AND t2.p = 'in_region' AND t2.o = 'ASIA'
       |  UNION
       |  SELECT t3.s AS x, t3.o AS n
       |  FROM t t3
       |  WHERE t3.p = 'in_region' AND t3.o = 'ASIA') u
       |ORDER BY x, n""".stripMargin

  /** Quad view (named graphs — SPARQL 1.1 datasets; beyond both the
    * reference and the round-7 rebuild): the [[tripleView]] edges
    * partitioned into provenance graphs. Patterns outside a GRAPH
    * group see the union default graph (the documented dataset
    * choice, as in most quad stores' default configuration).
    *   geo    — nation --in_region--> region
    *   crm    — customer --in_nation/in_segment--> …
    *   supply — supplier --in_nation--> nation */
  def quadView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r = region(s, d)
    val n = nation(s, d)
    val c = customer(s, d)
    val sup = supplier(s, d)
    val nr = n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .select(lit("geo").as("g"), $"n_name".as("s"),
        lit("in_region").as("p"), $"r_name".as("o"))
    val cn = c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select(lit("crm").as("g"), $"c_name".as("s"),
        lit("in_nation").as("p"), $"n_name".as("o"))
    val sn = sup.join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .select(lit("supply").as("g"), $"s_name".as("s"),
        lit("in_nation").as("p"), $"n_name".as("o"))
    val cs = c.select(lit("crm").as("g"), $"c_name".as("s"),
      lit("in_segment").as("p"), $"c_mktsegment".as("o"))
    nr.union(cn).union(sn).union(cs)
  }
  /** DuckDB CTE equivalent of [[quadView]]. */
  val quadViewSql: String =
    """WITH q AS (
      |  SELECT 'geo' AS g, n_name AS s, 'in_region' AS p, r_name AS o
      |    FROM nation JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL
      |  SELECT 'crm', c_name, 'in_nation', n_name
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT 'supply', s_name, 'in_nation', n_name
      |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT 'crm', c_name, 'in_segment', c_mktsegment FROM customer
      |)""".stripMargin

  /** BOUND graph group: the same in_nation pattern that matches both
    * customers and suppliers on the default graph returns ONLY the
    * supply graph's slice inside `graph <supply> { … }` — one
    * pushed-down filter on g. */
  def graphBound(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $m $n where { graph <supply> { $m in_nation $n } }")
    val res = Bgp.compile(quadView(s, d), q)
    res.orderBy(res("m"), res("n"))
  }
  val graphBoundSql: String =
    s"""$quadViewSql
       |SELECT DISTINCT s AS m, o AS n FROM q
       |WHERE g = 'supply' AND p = 'in_nation'
       |ORDER BY m, n""".stripMargin

  /** VARIABLE graph group: `graph $g { … }` binds each solution's
    * source graph — membership edges tagged crm vs supply. */
  def graphVar(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      "select $g $m $n where { graph $g { $m in_nation $n } }")
    val res = Bgp.compile(quadView(s, d), q)
    res.orderBy(res("g"), res("m"), res("n"))
  }
  val graphVarSql: String =
    s"""$quadViewSql
       |SELECT DISTINCT g, s AS m, o AS n FROM q
       |WHERE p = 'in_nation'
       |ORDER BY g, m, n""".stripMargin

  /** CROSS-GRAPH join composed with a default-graph pattern: BUILDING
    * customers (default graph = union of all graphs), their nation
    * from crm, its region from geo — three pattern sources joined on
    * shared variables. */
  def graphJoin(s: SparkSession, d: String): DataFrame = {
    val q = Sparql.parse(
      """select $c $n $r where {
        |  $c in_segment BUILDING .
        |  graph <crm> { $c in_nation $n } .
        |  graph <geo> { $n in_region $r }
        |}""".stripMargin)
    val res = Bgp.compile(quadView(s, d), q)
    res.orderBy(res("c"), res("n"), res("r"))
  }
  val graphJoinSql: String =
    s"""$quadViewSql
       |SELECT DISTINCT q1.s AS c, q1.o AS n, q2.o AS r
       |FROM q q0, q q1, q q2
       |WHERE q0.p = 'in_segment' AND q0.o = 'BUILDING'
       |  AND q1.g = 'crm' AND q1.p = 'in_nation' AND q1.s = q0.s
       |  AND q2.g = 'geo' AND q2.p = 'in_region' AND q2.s = q1.o
       |ORDER BY c, n, r""".stripMargin

  /** DATASET clauses (SPARQL 1.1 §13.2): `from <crm>` narrows the
    * default graph to the crm slice (supplier memberships vanish);
    * `from named <supply>` leaves GRAPH groups ranging over supply
    * only (the crm edges the var-graph query would otherwise also
    * match vanish). Both polarities in one tagged result. */
  def graphDataset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val view = quadView(s, d)
    val fromQ = Bgp.compile(view, Sparql.parse(
      "select $m $n from <crm> where { $m in_nation $n }"))
      .select(lit("from").as("q"), $"m", $"n")
    val fromNamedQ = Bgp.compile(view, Sparql.parse(
      "select $g $m $n from named <supply> where { graph $g { $m in_nation $n } }"))
      .select(lit("fromnamed").as("q"), $"m", $"n")
    fromQ.unionByName(fromNamedQ).orderBy($"q", $"m", $"n")
  }
  val graphDatasetSql: String =
    s"""$quadViewSql
       |SELECT * FROM (
       |  SELECT DISTINCT 'from' AS q, s AS m, o AS n FROM q
       |  WHERE g = 'crm' AND p = 'in_nation'
       |  UNION ALL
       |  SELECT DISTINCT 'fromnamed', s, o FROM q
       |  WHERE g = 'supply' AND p = 'in_nation') u
       |ORDER BY q, m, n""".stripMargin

  /** Insert (reference M1, graph.rs:414-509): union + distinct. */
  def insert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val extra = Seq(
      ("GABE", "likes", "RIPPLE"),
      ("NATION_2", "in_region", "ASIA") // duplicate — must not duplicate
    ).toDF("s", "p", "o")
    sorted(tripleView(s, d).union(extra).distinct())
  }
  val insertSql: String =
    s"""$tripleViewSql
       |SELECT DISTINCT s, p, o FROM (
       |  SELECT * FROM t
       |  UNION ALL VALUES ('GABE', 'likes', 'RIPPLE'), ('NATION_2', 'in_region', 'ASIA'))
       |ORDER BY s, p, o""".stripMargin

  /** Remove (reference M2, graph.rs:510-629) as a broadcast LEFT-ANTI
    * join (round-2 verdict #6): `.except()` shuffles + distincts every
    * surviving triple to delete one row, while the removal list is a
    * driver-side handful — broadcasting it makes the delete a pure
    * map-side filter pass. Equivalent to the oracle's EXCEPT because
    * the view is duplicate-free (set semantics). */
  def remove(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gone = Seq(("NATION_2", "in_region", "ASIA")).toDF("gs", "gp", "go")
    val t = tripleView(s, d)
    sorted(t.join(broadcast(gone),
      t("s") === gone("gs") && t("p") === gone("gp") && t("o") === gone("go"),
      "left_anti"))
  }
  val removeSql: String =
    s"""$tripleViewSql
       |SELECT s, p, o FROM t
       |EXCEPT SELECT 'NATION_2', 'in_region', 'ASIA'
       |ORDER BY s, p, o""".stripMargin

  /** Remove by PATTERN (wildcards) — the reference's promised
    * "remove-queries" (COOKBOOK.md:76): delete every in_segment triple
    * regardless of subject/object. One Catalyst filter. */
  def removePattern(s: SparkSession, d: String): DataFrame = {
    val t = tripleView(s, d)
    sorted(t.filter(!(t("p") === "in_segment")))
  }
  val removePatternSql: String =
    s"""$tripleViewSql
       |SELECT s, p, o FROM t
       |WHERE p <> 'in_segment'
       |ORDER BY s, p, o""".stripMargin

  /** SPARQL 1.1 UPDATE sequence through the string front-end (the
    * reference's mutation surface behind standard syntax, plus the
    * derived forms it never shipped): insert data (with a duplicate —
    * set semantics make it a no-op), insert…where (derive a reversed
    * containment edge per in_region edge — evaluated over the
    * already-updated store), delete data, and a multi-pattern delete
    * where (both pattern instantiations of every solution vanish).
    * Output = the final store's term values. */
  def updateOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = namedTriples(tripleView(s, d))
    val updated = graft.store.TripleStore.fromDataset(base)
      .update("insert data { GABE likes RIPPLE . NATION_2 in_region ASIA }")
      .update("insert { $r contains $n } where { $n in_region $r }")
      .update("delete data { NATION_2 in_region ASIA }")
      .update("delete where { $c in_segment BUILDING . $c in_nation NATION_2 }")
    val out = updated.triples
      .select($"s.value".as("s"), $"p.value".as("p"), $"o.value".as("o"))
    out.orderBy($"s", $"p", $"o")
  }
  val updateOpsSql: String =
    s"""$tripleViewSql
       |, ins1 AS (SELECT DISTINCT s, p, o FROM (
       |    SELECT * FROM t
       |    UNION ALL VALUES ('GABE', 'likes', 'RIPPLE'), ('NATION_2', 'in_region', 'ASIA'))),
       |ins2 AS (SELECT DISTINCT s, p, o FROM (
       |    SELECT * FROM ins1
       |    UNION ALL SELECT o, 'contains', s FROM ins1 WHERE p = 'in_region')),
       |del1 AS (SELECT s, p, o FROM ins2
       |         EXCEPT SELECT 'NATION_2', 'in_region', 'ASIA'),
       |sol AS (SELECT a.s AS c FROM del1 a JOIN del1 b ON a.s = b.s
       |        WHERE a.p = 'in_segment' AND a.o = 'BUILDING'
       |          AND b.p = 'in_nation' AND b.o = 'NATION_2'),
       |gone AS (SELECT c AS s, 'in_segment' AS p, 'BUILDING' AS o FROM sol
       |         UNION SELECT c, 'in_nation', 'NATION_2' FROM sol)
       |SELECT s, p, o FROM del1
       |EXCEPT SELECT s, p, o FROM gone
       |ORDER BY s, p, o""".stripMargin

  /** SPARQL 1.1 Update §3.2 graph management (round-8 verdict #6) over
    * a [[graft.store.QuadStore]]: CREATE + quad-form INSERT DATA +
    * LOAD (a real NT file through the Hadoop-safe reader) + COPY +
    * ADD + MOVE + graph-scoped DELETE DATA + CLEAR + DROP, verified by
    * the dataset's final state. The snapshot graph is cleared then
    * dropped, so the sequence exercises both verbs; work moves to
    * archive after being added into reg. */
  def updateGraphs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.store.QuadStore
    def terms(df: DataFrame) = namedTriples(df)
    val view = tripleView(s, d)
    val base = QuadStore.fromGraphs(s, Seq(
      None -> terms(view.filter($"p" === "in_nation")),
      Some("seg") -> terms(view.filter($"p" === "in_segment")),
      Some("reg") -> terms(view.filter($"p" === "in_region"))))
    // the LOAD document lives under the scratch root, keyed by the
    // corpus, and a rerun overwrites it
    val ntPath = new org.apache.hadoop.fs.Path(scratch(s, "load_nt", d), "load.nt")
    val fs = ntPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val doc = fs.create(ntPath, true)
    try doc.write(("<http://g.test/x1> <http://g.test/p> <http://g.test/y1> .\n" +
      "<http://g.test/x2> <http://g.test/p> <http://g.test/y2> .\n").getBytes("UTF-8"))
    finally doc.close()
    val fin = base
      .update("create graph work")
      .update("insert data { graph work { GABE likes RIPPLE . RIPPLE made_by GGABI } }")
      .update(s"load <${fs.makeQualified(ntPath)}> into graph work")
      .update("copy seg to snapshot")
      .update("add work to reg")
      .update("move work to archive")
      .update("delete data { graph reg { GABE likes RIPPLE } }")
      .update("clear graph snapshot")
      .update("drop graph snapshot")
    val out = fin.quads.toDF()
      .select(coalesce($"g", lit("default")).as("g"),
        $"s.value".as("s"), $"p.value".as("p"), $"o.value".as("o"))
    out.orderBy("g", "s", "p", "o")
  }
  val updateGraphsSql: String =
    s"""$tripleViewSql
       |SELECT g, s, p, o FROM (
       |  SELECT 'default' AS g, s, p, o FROM t WHERE p = 'in_nation'
       |  UNION ALL SELECT 'seg', s, p, o FROM t WHERE p = 'in_segment'
       |  UNION ALL SELECT 'reg', s, p, o FROM t WHERE p = 'in_region'
       |  UNION ALL SELECT 'reg', v.* FROM (VALUES
       |    ('RIPPLE', 'made_by', 'GGABI'),
       |    ('http://g.test/x1', 'http://g.test/p', 'http://g.test/y1'),
       |    ('http://g.test/x2', 'http://g.test/p', 'http://g.test/y2')) v(s, p, o)
       |  UNION ALL SELECT 'archive', v.* FROM (VALUES
       |    ('GABE', 'likes', 'RIPPLE'),
       |    ('RIPPLE', 'made_by', 'GGABI'),
       |    ('http://g.test/x1', 'http://g.test/p', 'http://g.test/y1'),
       |    ('http://g.test/x2', 'http://g.test/p', 'http://g.test/y2')) v(s, p, o)
       |) u ORDER BY g, s, p, o""".stripMargin

  /** Dictionary encoding (reference S2, parser.rs:22-87): dense
    * deterministic ids over the subject∪object term set. */
  def dictEncode(s: SparkSession, d: String): DataFrame = {
    val t = tripleView(s, d)
    val terms = t.select(t("s").as("term")).union(t.select(t("o").as("term")))
    val enc = Dict.encode(terms, Seq("term"))
    enc.orderBy(enc("id"))
  }
  val dictEncodeSql: String =
    s"""$tripleViewSql
       |SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS id
       |FROM (SELECT DISTINCT s AS term FROM t UNION SELECT DISTINCT o FROM t) u
       |ORDER BY id""".stripMargin

  /** Persistence round-trip (reference S4+S5, graph.rs:54-222,630-695):
    * write predicate-partitioned parquet, read it back, prove identity. */
  def persistRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "persist_roundtrip", d)
    tripleView(s, d).write.mode("overwrite").partitionBy("p").parquet(dir)
    val back = s.read.parquet(dir).select("s", "p", "o")
    sorted(back)
  }
  val persistRoundtripSql: String = apSql(Nil)
}
