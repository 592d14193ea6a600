package graft.rdf

import graft.SparkSpec

class TurtleSpec extends SparkSpec {

  test("prefixes, base, `a`, semicolon/comma lists, comments") {
    val ttl =
      """# a comment
        |@prefix ex: <http://g.test/> .
        |@base <http://base.test/> .
        |ex:alice a ex:Person ;
        |    ex:knows ex:bob , ex:carol ;   # trailing comment
        |    ex:likes <rel> .
        |<http://abs.test/x> ex:knows ex:alice .
        |""".stripMargin
    val ts = Turtle.parse(ttl)
    assert(ts.length == 5)
    assert(ts.head == Triple(RdfTerm.named("http://g.test/alice"),
      RdfTerm.named(Rdf.TypeIri), RdfTerm.named("http://g.test/Person")))
    assert(ts.map(_.o.value).contains("http://g.test/carol"))
    // relative IRI resolved against @base; absolute left alone
    assert(ts.map(_.o.value).contains("http://base.test/rel"))
    assert(ts.last.s.value == "http://abs.test/x")
  }

  test("literals: escapes, lang tags, datatypes, numeric/boolean shorthand") {
    val ttl =
      """@prefix ex: <http://g.test/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:s ex:plain "say \"hi\"\n" ;
        |     ex:lang "hallo"@de ;
        |     ex:typed "5"^^xsd:int ;
        |     ex:typed2 "6"^^<http://dt.test/t> ;
        |     ex:num 42 ;
        |     ex:dec 4.5 ;
        |     ex:flag true .
        |""".stripMargin
    val ts = Turtle.parse(ttl)
    val byP = ts.map(t => t.p.value.stripPrefix("http://g.test/") -> t.o).toMap
    assert(byP("plain") == RdfTerm.raw("say \"hi\"\n"))
    assert(byP("lang") == RdfTerm.langLit("hallo", "de"))
    assert(byP("typed") == RdfTerm.typedLit("5", "http://www.w3.org/2001/XMLSchema#int"))
    assert(byP("typed2") == RdfTerm.typedLit("6", "http://dt.test/t"))
    assert(byP("num") == RdfTerm.typedLit("42", "http://www.w3.org/2001/XMLSchema#integer"))
    assert(byP("dec") == RdfTerm.typedLit("4.5", "http://www.w3.org/2001/XMLSchema#decimal"))
    assert(byP("flag") == RdfTerm.typedLit("true", "http://www.w3.org/2001/XMLSchema#boolean"))
  }

  test("scheme'd IRIs never base-resolve; doubles fail fast; compact dots parse (review #3-5)") {
    // urn:/mailto: are absolute — @base must not prefix them
    val ts = Turtle.parse(
      "@base <http://ex/> . <urn:uuid:1234> <mailto:a@b.test> <rel> .")
    assert(ts.head.s.value == "urn:uuid:1234")
    assert(ts.head.p.value == "mailto:a@b.test")
    assert(ts.head.o.value == "http://ex/rel")
    // exponent literals are xsd:double — outside the subset, fail fast
    assertThrows[IllegalArgumentException](
      Turtle.parse("<http://x/s> <http://x/p> 1e5 ."))
    // '.' abutting '}', the next subject's '<', or a blank's '_:'
    // terminates
    val compact = Turtle.parseTriG(
      "<http://x/g> { <http://x/s> <http://x/p> <http://x/o>.} <http://x/s2> <http://x/p> <http://x/o2>.<http://x/s3> <http://x/p> <http://x/o3>._:b <http://x/p> <http://x/o4> .")
    assert(compact.length == 4)
    assert(compact.map(_.s.value).toSet ==
      Set("http://x/s", "http://x/s2", "http://x/s3", "b"))
    // unsigned bare-dot decimals parse like their signed forms
    val dec = Turtle.parse("<http://x/s> <http://x/p> .5 .")
    assert(dec.head.o ==
      RdfTerm.typedLit(".5", "http://www.w3.org/2001/XMLSchema#decimal"))
  }

  test("blank nodes parse; unsupported syntax and undeclared prefixes fail fast") {
    val ts = Turtle.parse("_:b1 <http://g.test/p> _:b2 .")
    assert(ts == Seq(Triple(RdfTerm.blank("b1"),
      RdfTerm.named("http://g.test/p"), RdfTerm.blank("b2"))))
    assertThrows[IllegalArgumentException](
      Turtle.parse("<http://x/s> <http://x/p> [ <http://x/q> 1 ] ."))
    assertThrows[IllegalArgumentException](
      Turtle.parse("ex:s <http://x/p> 1 .")) // ex: never declared
    assertThrows[IllegalArgumentException](
      Turtle.parse("<http://x/s> <http://x/p> \"\"\"big\"\"\" ."))
  }

  test("trig: graph blocks, GRAPH keyword, default graph, optional last dot") {
    val trig =
      """@prefix ex: <http://g.test/> .
        |ex:outside ex:p ex:o .
        |ex:g1 { ex:a ex:p ex:b . ex:a ex:q ex:c }
        |GRAPH <http://g.test/g2> {
        |  ex:d ex:p ex:e .
        |}
        |{ ex:anon ex:p ex:q . }
        |""".stripMargin
    val qs = Turtle.parseTriG(trig)
    assert(qs.length == 5)
    def gOf(sLocal: String) =
      qs.find(_.s.value == s"http://g.test/$sLocal").get.g.map(_.value)
    assert(gOf("outside").isEmpty)
    assert(gOf("a").contains("http://g.test/g1"))
    assert(gOf("d").contains("http://g.test/g2"))
    assert(gOf("anon").isEmpty) // anonymous block = default graph
    // plain Turtle parse rejects TriG blocks instead of misparsing
    assertThrows[IllegalArgumentException](
      Turtle.parse("<http://x/g> { <http://x/s> <http://x/p> <http://x/o> . }"))
  }

  test("trig: distributed write/read round-trips the quad set") {
    import spark.implicits._
    val quads = Seq(
      Quad(Some(RdfTerm.named("http://g.test/G")),
        RdfTerm.named("http://g.test/a"), RdfTerm.named("http://g.test/p"),
        RdfTerm.raw("v \"x\"")),
      Quad(Some(RdfTerm.named("http://g.test/G")),
        RdfTerm.named("http://g.test/a"), RdfTerm.named("http://g.test/p"),
        RdfTerm.langLit("w", "en")),
      Quad(None,
        RdfTerm.named("http://g.test/b"), RdfTerm.named("http://g.test/q"),
        RdfTerm.typedLit("3", "http://www.w3.org/2001/XMLSchema#int")))
    val dir = tempDir("trig_rt")
    Turtle.writeTriG(quads.toDS(), dir)
    assert(Turtle.readTriG(spark, dir, exts = Seq(".txt")).collect().toSet == quads.toSet)
  }

  test("write emits grouped blocks that re-parse to the identical triple set") {
    import spark.implicits._
    val triples = Seq(
      Triple(RdfTerm.named("http://g.test/a"), RdfTerm.named("http://g.test/p1"),
        RdfTerm.named("http://g.test/x")),
      Triple(RdfTerm.named("http://g.test/a"), RdfTerm.named("http://g.test/p1"),
        RdfTerm.named("http://g.test/y")),
      Triple(RdfTerm.named("http://g.test/a"), RdfTerm.named("http://g.test/p2"),
        RdfTerm.raw("lit \"q\" \n end")),
      Triple(RdfTerm.named("http://g.test/b"), RdfTerm.named("http://g.test/p1"),
        RdfTerm.langLit("hej", "sv")),
      Triple(RdfTerm.blank("z"), RdfTerm.named("http://g.test/p3"),
        RdfTerm.typedLit("7", "http://www.w3.org/2001/XMLSchema#int")))
    val dir = tempDir("ttl_rt")
    Turtle.write(triples.toDS(), dir)
    // the a-subject block must actually use the ',' object list
    val text = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".txt"))
      .map(f => java.nio.file.Files.readString(f.toPath)).mkString("\n")
    assert(text.contains(" , "), text)
    val back = Turtle.read(spark, dir).collect().toSet
    // blank ids get a per-file prefix on read; compare modulo that
    def norm(t: Triple) = Triple(
      if (t.s.kind == RdfTerm.Blank) t.s.copy(value = "z") else t.s, t.p, t.o)
    assert(back.map(norm) == triples.toSet)
  }
}
