package graft.rdf

import graft.SparkSpec

class RdfXmlParserSpec extends SparkSpec {

  val fixture =
    """<?xml version="1.0"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      |         xmlns:ex="http://example.org/">
      |  <ex:Person rdf:about="http://example.org/alice" xml:lang="en">
      |    <ex:name>Alice</ex:name>
      |    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#int">30</ex:age>
      |    <ex:knows rdf:resource="http://example.org/bob"/>
      |    <ex:address rdf:parseType="Resource">
      |      <ex:city>Springfield</ex:city>
      |    </ex:address>
      |    <ex:friend>
      |      <ex:Person rdf:about="http://example.org/carol"/>
      |    </ex:friend>
      |  </ex:Person>
      |  <rdf:Description rdf:nodeID="b1">
      |    <ex:label xml:lang="de">Hallo</ex:label>
      |  </rdf:Description>
      |  <rdf:Seq rdf:about="http://example.org/list">
      |    <rdf:li rdf:resource="http://example.org/x"/>
      |    <rdf:li rdf:resource="http://example.org/y"/>
      |  </rdf:Seq>
      |</rdf:RDF>""".stripMargin

  test("golden fixture parses to exact triples") {
    val ts = RdfXmlParser.parseString(fixture)
    val ex = "http://example.org/"
    def named(v: String) = RdfTerm.named(v)
    assert(ts.contains(Triple(named(ex + "alice"), RdfTerm.named(Rdf.TypeIri), named(ex + "Person"))))
    assert(ts.contains(Triple(named(ex + "alice"), named(ex + "name"), RdfTerm.langLit("Alice", "en"))))
    assert(ts.contains(Triple(named(ex + "alice"), named(ex + "age"),
      RdfTerm.typedLit("30", "http://www.w3.org/2001/XMLSchema#int"))))
    assert(ts.contains(Triple(named(ex + "alice"), named(ex + "knows"), named(ex + "bob"))))
    // parseType=Resource: blank object with nested property
    val addr = ts.collectFirst {
      case Triple(s, p, o) if p.value == ex + "address" && s.value == ex + "alice" => o
    }.get
    assert(addr.kind == RdfTerm.Blank)
    assert(ts.contains(Triple(addr, named(ex + "city"), RdfTerm.langLit("Springfield", "en"))))
    // nested node element
    assert(ts.contains(Triple(named(ex + "alice"), named(ex + "friend"), named(ex + "carol"))))
    assert(ts.contains(Triple(named(ex + "carol"), RdfTerm.named(Rdf.TypeIri), named(ex + "Person"))))
    // nodeID + lang inherit at property level
    assert(ts.contains(Triple(RdfTerm.blank("b1"), named(ex + "label"), RdfTerm.langLit("Hallo", "de"))))
    // containers: rdf:li → rdf:_n
    assert(ts.contains(Triple(named(ex + "list"), RdfTerm.named(Rdf.RdfNs + "_1"), named(ex + "x"))))
    assert(ts.contains(Triple(named(ex + "list"), RdfTerm.named(Rdf.RdfNs + "_2"), named(ex + "y"))))
    assert(ts.contains(Triple(named(ex + "list"), RdfTerm.named(Rdf.TypeIri), RdfTerm.named(Rdf.RdfNs + "Seq"))))
  }

  test("reference corpus files parse (same fixtures as the reference's unit tests)") {
    // reference pins models/cold-2010 (parser.rs:129-133) and
    // models/www-2011 (graph.rs:1121-1124)
    assumeReferenceCorpus()
    val cold = RdfXmlParser.parseFile(s"$referenceModels/cold-2010-complete.rdf")
    assert(cold.nonEmpty)
    val www = RdfXmlParser.parseFile(s"$referenceModels/www-2011-complete.rdf")
    assert(www.size > 1000)
  }

  /** blank-insensitive canonical form for round-trip comparison */
  private def canon(ts: Seq[Triple]): Seq[String] =
    ts.map { t =>
      def r(x: RdfTerm) = if (x.kind == RdfTerm.Blank) "_:b" else x.render
      s"${r(t.s)} ${r(t.p)} ${r(t.o)}"
    }.sorted

  test("write → parse round-trips (modulo blank renaming)") {
    val reference =
      if (!hasReferenceCorpus) Nil
      else Seq("cold-2010-complete.rdf", "eswc-2006-complete.rdf", "scripting-2008-complete.rdf")
        .map(f => s"$referenceModels/$f")
    for (f <- ConferenceCorpus.files.map(_.toString) ++ reference) {
      val ts = RdfXmlParser.parseFile(f)
      assert(ts.nonEmpty, f)
      val xml = new String(RdfXmlWriter.triplesToRdfXml(ts.iterator), "UTF-8")
      val back = RdfXmlParser.parseString(xml)
      assert(canon(back) == canon(ts), s"round-trip mismatch for $f")
    }
  }

  test("whole reference corpus ingests distributed (53 files, 18 MB)") {
    assumeReferenceCorpus()
    val st = graft.store.TripleStore.fromRdf(spark, referenceModels)
    val n = st.count()
    assert(n > 100000, s"expected >100k triples from the corpus, got $n")
  }

  test("GraftExtensions injects native functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) c, " +
        "simhash(array('a','b')) s").head()
      assert(r.getDouble(0) == 1.0)
      assert(r.getLong(1) != 0L)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("xml:base resolves relative IRIs with inheritance") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/ns#"
        |         xml:base="http://base.example/dir/">
        |  <rdf:Description rdf:about="doc1">
        |    <ex:rel rdf:resource="doc2"/>
        |    <ex:abs rdf:resource="http://other.example/x"/>
        |  </rdf:Description>
        |  <rdf:Description rdf:about="#frag" xml:base="http://inner.example/a">
        |    <ex:rel rdf:resource="b"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val ts = RdfXmlParser.parseString(xml)
    assert(ts.contains(Triple(RdfTerm.named("http://base.example/dir/doc1"),
      RdfTerm.named("http://example.org/ns#rel"),
      RdfTerm.named("http://base.example/dir/doc2"))))
    // absolute IRIs untouched
    assert(ts.exists(_.o.value == "http://other.example/x"))
    // inner xml:base overrides; fragment resolves against it
    assert(ts.contains(Triple(RdfTerm.named("http://inner.example/a#frag"),
      RdfTerm.named("http://example.org/ns#rel"),
      RdfTerm.named("http://inner.example/b"))))
  }

  test("removePattern deletes by wildcard pattern (the reference's promised remove-queries)") {
    import graft.store.TripleStore
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val st = TripleStore.fromTriples(spark,
      Seq(t("a", "is", "x"), t("b", "is", "y"), t("a", "has", "z")))
    assert(st.removePattern(Some(RdfTerm.named("a")), None, None).count() == 1)
    assert(st.removePattern(None, Some(RdfTerm.named("is")), None).count() == 1)
    assert(st.removePattern(None, None, None).count() == 0)
  }

  test("parseType=Collection builds first/rest/nil list") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/s">
        |    <ex:items rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://example.org/a"/>
        |      <rdf:Description rdf:about="http://example.org/b"/>
        |    </ex:items>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val ts = RdfXmlParser.parseString(xml)
    val first = Rdf.RdfNs + "first"
    val rest = Rdf.RdfNs + "rest"
    assert(ts.count(_.p.value == first) == 2)
    assert(ts.count(_.p.value == rest) == 2)
    assert(ts.exists(t => t.p.value == rest && t.o.value == Rdf.RdfNs + "nil"))
    assert(ts.exists(t => t.p.value == first && t.o.value == "http://example.org/a"))
  }

  test("rdf:ID on a property element reifies the statement") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/"
        |         xml:base="http://example.org/doc">
        |  <rdf:Description rdf:about="http://example.org/s">
        |    <ex:says rdf:ID="st1">hello</ex:says>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val ts = RdfXmlParser.parseString(xml)
    val stmt = "http://example.org/doc#st1"
    // the base triple still appears
    assert(ts.exists(t => t.s.value == "http://example.org/s" &&
      t.p.value == "http://example.org/says" && t.o.value == "hello"))
    // plus the four reification triples
    assert(ts.exists(t => t.s.value == stmt && t.p.value == Rdf.TypeIri &&
      t.o.value == Rdf.RdfNs + "Statement"))
    assert(ts.exists(t => t.s.value == stmt && t.p.value == Rdf.RdfNs + "subject" &&
      t.o.value == "http://example.org/s"))
    assert(ts.exists(t => t.s.value == stmt && t.p.value == Rdf.RdfNs + "predicate" &&
      t.o.value == "http://example.org/says"))
    assert(ts.exists(t => t.s.value == stmt && t.p.value == Rdf.RdfNs + "object" &&
      t.o.value == "hello" && t.o.kind == "raw"))
    assert(ts.size == 5)
  }

  test("rdf:li numbering skips non-li properties; xml:lang empty resets") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/" xml:lang="en">
        |  <rdf:Seq rdf:about="http://example.org/seq">
        |    <rdf:li>one</rdf:li>
        |    <ex:note xml:lang="">plain</ex:note>
        |    <rdf:li>two</rdf:li>
        |  </rdf:Seq>
        |</rdf:RDF>""".stripMargin
    val ts = RdfXmlParser.parseString(xml)
    // second li must be rdf:_2, not rdf:_3
    assert(ts.exists(t => t.p.value == Rdf.RdfNs + "_1" && t.o.value == "one"))
    assert(ts.exists(t => t.p.value == Rdf.RdfNs + "_2" && t.o.value == "two"))
    assert(!ts.exists(t => t.p.value == Rdf.RdfNs + "_3"))
    // xml:lang="" resets: "plain" is a raw literal, not @en
    val note = ts.find(_.p.value == "http://example.org/note").get
    assert(note.o.kind == "raw")
    // the li literals still inherit @en from the root
    assert(ts.find(_.p.value == Rdf.RdfNs + "_1").get.o.lang.contains("en"))
  }
}
