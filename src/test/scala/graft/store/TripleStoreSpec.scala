package graft.store

import graft.SparkSpec
import graft.rdf.{ConferenceCorpus, RdfTerm, Triple}
import graft.query.Sparql

class TripleStoreSpec extends SparkSpec {

  def t(s: String, p: String, o: String): Triple =
    Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))

  // the COOKBOOK.md:83-100 example graph shape
  lazy val graph = Seq(
    t("gabe", "is", "cool"),
    t("gabe", "loves", "Ripple"),
    t("james", "is", "cool"),
    t("james", "hates", "Ripple"),
    t("ripple", "is", "awesome"))

  lazy val store = TripleStore.fromTriples(spark, graph).cache()

  test("conjunctive BGP query (the reference's flagship example)") {
    val q = Sparql().select(Seq("$name"))
      .filter(Seq(Seq("$name", "is", "cool"), Seq("$name", "loves", "Ripple")))
    assert(store.get(q).map(_.value).sorted == Seq("gabe"))
  }

  test("string front-end parses select/where to the same query") {
    val q = Sparql.parse("select $name where { $name is cool . $name loves Ripple }")
    assert(store.get(q).map(_.value).sorted == Seq("gabe"))
  }

  test("single-pattern variable query") {
    val q = Sparql().select(Seq("$who")).filter(Seq(Seq("$who", "is", "cool")))
    assert(store.get(q).map(_.value).sorted == Seq("gabe", "james"))
  }

  test("undeclared variable in filter throws (reference panics, query.rs:54)") {
    intercept[IllegalArgumentException] {
      Sparql().select(Seq("$a")).filter(Seq(Seq("$a", "is", "$b")))
    }
  }

  test("insert then remove round-trips") {
    val added = store.insertTriple(t("zoe", "is", "cool"))
    assert(added.count() == graph.size + 1)
    // idempotent insert (set semantics, bit-set parity)
    assert(added.insertTriple(t("zoe", "is", "cool")).count() == graph.size + 1)
    val removed = added.removeTriple(t("zoe", "is", "cool"))
    assert(removed.count() == graph.size)
    // removing absent triple is a silent no-op (graph.rs:513-519)
    assert(removed.removeTriple(t("nobody", "is", "here")).count() == graph.size)
  }

  test("persist → fromBackup round-trips the triple set") {
    val dir = tempDir("ts_persist")
    store.persist(dir)
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.triples.collect().toSet == store.triples.collect().toSet)
    // dictionary tables are dense 0..n-1
    val ids = spark.read.parquet(s"$dir/terms").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
  }

  test("persistLocation parity: remembered by persist/restore, no-arg persist reuses it") {
    val st = TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("http://x/s"), RdfTerm.named("http://x/p"), RdfTerm.named("http://x/o"))))
    // never persisted → no location, no-arg persist errors (Error::NoPersistLocation)
    assert(st.persistLocation.isEmpty)
    assertThrows[IllegalStateException](st.persist())
    val dir = tempDir("ts_loc")
    st.persist(dir)
    assert(st.persistLocation.contains(dir))
    st.persist() // re-persist in place succeeds
    val back = TripleStore.fromBackup(spark, dir)
    // restored graphs remember where they came from (graph.rs head.json)
    assert(back.persistLocation.contains(dir))
    // mutations derive new stores — the location survives them, like
    // the reference's in-place mutable graph (review r9 #5)
    val mutated = back
      .update("insert data { <http://x/s2> <http://x/p> <http://x/o> }")
      .removeTriple(Triple(RdfTerm.named("http://x/s2"),
        RdfTerm.named("http://x/p"), RdfTerm.named("http://x/o")))
    assert(mutated.persistLocation.contains(dir))
    mutated.persist() // no-arg persist after mutation re-persists in place
  }

  test("fromBackup validates the layout before reading (graph.rs:167-184)") {
    val missing = tempDir("ts_bad")
    assertThrows[IllegalArgumentException]( // empty dir: no parts, no marker
      TripleStore.fromBackup(spark, s"$missing/sub"))
    assertThrows[IllegalArgumentException](
      TripleStore.fromBackup(spark, missing))
    val dir = tempDir("ts_marker")
    store.persist(dir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, TripleStore.BackupMarker))
    // marker-less but otherwise valid layout = a pre-marker backup;
    // restore succeeds (with a warning) instead of stranding old data
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.triples.collect().toSet == store.triples.collect().toSet)
  }

  test("fromBackup reads the layout with persist's schemas: no footer-inference job") {
    val dir = tempDir("ts_schema")
    TripleStore.fromTriples(spark, graph).persist(dir)
    val (back, jobs) = jobsDuring(TripleStore.fromBackup(spark, dir))
    // every job belongs to the one decode into the checkpoint
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("localCheckpoint at TripleStore.scala")), jobs)
    assert(back.triples.collect().toSet == graph.toSet)
  }

  test("iter + toRdfXml export round-trip") {
    val xml = new String(store.toRdfXml, "UTF-8")
    val back = graft.rdf.RdfXmlParser.parseString(xml)
    assert(back.toSet == graph.toSet)
  }

  test("fromRdf distributes per file and prefixes blank nodes") {
    def blanks(st: TripleStore): Seq[String] = st.triples.collect().toSeq
      .flatMap(tr => Seq(tr.s, tr.o)).filter(_.kind == RdfTerm.Blank).map(_.value)
    val st = TripleStore.fromRdf(spark, ConferenceCorpus.files.head.toString)
    assert(st.count() > 0)
    // blanks from different files can't collide: all have f<idx>_ prefix
    val one = blanks(st)
    assert(one.nonEmpty)
    assert(one.forall(_.startsWith("f0_")))
    // the same rdf:nodeID stated in every file stays one term per file
    val id = ConferenceCorpus.SharedNodeId
    val shared = blanks(TripleStore.fromRdf(spark, ConferenceCorpus.dir.toString))
      .filter(_.endsWith(s"_$id")).toSet
    assert(shared == (0 until ConferenceCorpus.FileCount).map(i => s"f${i}_$id").toSet)
  }

  test("fromRdf reads through the Hadoop FileSystem API (file:// URI, dir and single file)") {
    // A cluster deployment hands fromRdf an HDFS/S3A URI; the listing and
    // the reads must go through Hadoop, not java.io.File. file:// is the
    // scheme-qualified stand-in available in a local JVM.
    val file = ConferenceCorpus.files.head.toString
    val one = TripleStore.fromRdf(spark, s"file://$file")
    assert(one.count() == TripleStore.fromRdf(spark, file).count())
    val corpus = ConferenceCorpus.dir.toString
    val dir = TripleStore.fromRdf(spark, s"file://$corpus")
    assert(dir.count() == TripleStore.fromRdf(spark, corpus).count())
    // Turtle shares the same listing helper
    val tmp = tempDir("ttl_uri")
    java.nio.file.Files.writeString(java.nio.file.Path.of(tmp, "a.ttl"),
      "<http://x/s> <http://x/p> <http://x/o> .")
    assert(graft.rdf.Turtle.read(spark, s"file://$tmp").count() == 1)
    // missing paths fail fast with a clear error, not an empty scan
    assertThrows[java.io.FileNotFoundException](
      TripleStore.fromRdf(spark, "file:///root/nonexistent-graft-dir"))
  }

  test("corpus persists smaller than its RDF/XML source (parquet replaces K2Tree compression)") {
    val st = TripleStore.fromRdf(spark, ConferenceCorpus.dir.toString)
    val dir = tempDir("corpus_persist")
    st.persist(dir)
    def duBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(duBytes).sum).getOrElse(0L)
    val parquetBytes = duBytes(new java.io.File(dir))
    val xmlBytes = duBytes(ConferenceCorpus.dir.toFile)
    info(f"corpus: xml=${xmlBytes / 1e3}%.0f KB → persisted=${parquetBytes / 1e3}%.0f KB " +
      f"(${100.0 * parquetBytes / xmlBytes}%.0f%%)")
    assert(parquetBytes < xmlBytes)
    // restore equals original
    assert(TripleStore.fromBackup(spark, dir).count() == st.count())
  }

  test("sparql update: insert/delete data, delete where, insert…where") {
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val st = TripleStore.fromTriples(spark, Seq(
      t("alice", "knows", "bob"), t("bob", "knows", "carol"),
      t("alice", "in", "g1"), t("bob", "in", "g1")))
    // a subject that merely BEGINS with "graph" is a plain triple, not
    // the GRAPH quad form (review r9 #2)
    val gr = st.update("insert data { graphite mined_in g1 }")
    assert(gr.count() == st.count() + 1)
    // insert data: duplicate is a set-semantics no-op
    val ins = st.update("insert data { dave knows alice . alice knows bob }")
    assert(ins.count() == 5)
    // literal-typed term in a data block keeps its kind
    val lit = ins.update("""insert data { alice name "Alice" }""")
    assert(lit.triples.collect().exists(tr =>
      tr.o == RdfTerm.raw("Alice") && tr.p == RdfTerm.named("name")))
    // a quoted literal containing '}' must not truncate the block
    // (round-8 advice #3: the close scan is quote-aware)
    val brace = ins.update("""insert data { alice name "a}b" }""")
    assert(brace.triples.collect().exists(_.o == RdfTerm.raw("a}b")))
    assertThrows[IllegalArgumentException](
      ins.update("""insert data { alice name "unterminated }"""))
    // delete data removes exactly the listed triple
    val del = lit.update("delete data { alice knows bob }")
    assert(del.count() == 5)
    assert(!del.triples.collect().exists(tr => tr.s.value == "alice" && tr.o.value == "bob"))
    // delete where, multi-pattern: both instantiations vanish per solution
    val dw = del.update("delete where { $x knows $y . $x in $g }")
    // bob knows carol ∧ bob in g1 → both bob-triples gone; alice's `in`
    // survives (alice no longer knows anyone)
    val left = dw.triples.collect().toSet
    assert(!left.exists(_.s.value == "bob"))
    assert(left.exists(tr => tr.s.value == "alice" && tr.p.value == "in"))
    // insert…where derives new edges from current solutions
    val iw = dw.update("insert { $g holds $m } where { $m in $g }")
    assert(iw.triples.collect().exists(tr =>
      tr.s.value == "g1" && tr.p.value == "holds" && tr.o.value == "alice"))
    // fail-fasts: variables in a data block, template var unbound, junk
    assertThrows[IllegalArgumentException](st.update("insert data { $x p o }"))
    assertThrows[IllegalArgumentException](
      st.update("insert { $x p $zzz } where { $x p o }"))
    assertThrows[IllegalArgumentException](st.update("upsert data { a b c }"))
  }

  test("delete where removes what the pattern MATCHED, across term kinds") {
    // a bare pattern value matches any kind by lexical value — the
    // delete must hit the matched literal triple, not a Named coercion
    // of its lexical form (round-8 review finding #1)
    val st = TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("c1"), RdfTerm.named("in_segment"), RdfTerm.raw("BUILDING")),
      Triple(RdfTerm.named("c1"), RdfTerm.named("in_nation"), RdfTerm.named("N2")),
      Triple(RdfTerm.named("c2"), RdfTerm.named("in_segment"), RdfTerm.named("BUILDING"))))
    // concrete single-pattern: both kinds of BUILDING objects vanish
    val d1 = st.update("delete where { $c in_segment BUILDING }")
    assert(d1.triples.collect().map(_.p.value).toSeq == Seq("in_nation"))
    // multi-pattern with a variable: the literal triple matched via
    // the join must be deleted too (pre-fix it silently survived)
    val d2 = st.update("delete where { $c in_segment BUILDING . $c in_nation N2 }")
    val left = d2.triples.collect()
    assert(!left.exists(_.s.value == "c1"), left.mkString(", "))
    assert(left.exists(_.s.value == "c2")) // c2 has no in_nation → kept
    // kind-tagged concrete value restricts the delete to that kind
    val d3 = st.update("""delete where { $c in_segment "BUILDING" }""")
    assert(d3.triples.collect().map(_.o.kind).toSet == Set("named"))
  }

  test("ground delete-where is conjunctive; path predicates fail fast") {
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val st = TripleStore.fromTriples(spark, Seq(t("a", "b", "c"), t("x", "y", "z")))
    // the WHERE is one BGP: an unmatched pattern means no solution,
    // so NOTHING is deleted — not per-pattern independent deletes
    assert(st.update("delete where { a b c . d e f }").count() == 2)
    // all patterns matched → each pattern's matches are deleted
    assert(st.update("delete where { a b c . x y z }").count() == 0)
    // a path-operator predicate would silently match nothing in the
    // delete — fail fast instead
    assertThrows[IllegalArgumentException](
      st.update("delete where { $v b+ $w }"))
    assertThrows[IllegalArgumentException](
      st.update("delete where { $v b/c $w }"))
  }

  test("a path variable is a term: it joins plain patterns and TripleStore.get returns it") {
    val st = TripleStore.fromTriples(spark, Seq(
      t("a", "next", "b"), t("b", "next", "c"),
      Triple(RdfTerm.named("b"), RdfTerm.named("name"), RdfTerm.raw("Bee")),
      Triple(RdfTerm.named("c"), RdfTerm.named("name"), RdfTerm.raw("Cee"))))
    val q = Sparql.parse("select $y $n where { a next+ $y . $y name $n }")
    assert(st.query(q).selectExpr("y.value", "n.value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("b", "Bee"), ("c", "Cee")))
    assert(st.get(q).sortBy(_.value) == Seq(RdfTerm.named("b"), RdfTerm.named("c")))
  }

  test("paths join whole terms: a literal does not continue from the IRI it spells") {
    val st = TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("a"), RdfTerm.named("next"), RdfTerm.raw("b")),
      t("b", "next", "c")))
    def q(path: String) = Sparql.parse(s"select $$y where { a $path $$y }")
    def ys(path: String) = st.get(q(path)).toSet
    assert(st.query(q("next+")).count() == 1) // not also the c behind the IRI b
    assert(ys("next+") == Set(RdfTerm.raw("b")))
    assert(ys("next/next").isEmpty)
    assert(ys("next{2}") == ys("next/next"))
  }

  test("typed/lang literals survive store round-trip") {
    val lits = Seq(
      Triple(RdfTerm.named("s1"), RdfTerm.named("p"), RdfTerm.langLit("hi", "en")),
      Triple(RdfTerm.named("s2"), RdfTerm.named("p"), RdfTerm.typedLit("5", "xsd:int")),
      Triple(RdfTerm.named("s3"), RdfTerm.named("p"), RdfTerm.raw("plain")),
      Triple(RdfTerm.blank("b0"), RdfTerm.named("p"), RdfTerm.named("o")))
    val st = TripleStore.fromTriples(spark, lits)
    val dir = tempDir("ts_lit")
    st.persist(dir)
    assert(TripleStore.fromBackup(spark, dir).triples.collect().toSet == lits.toSet)
  }

  test("in-place re-persist under another spelling of its directory keeps the backup whole") {
    // `dir/`, `file:dir` and `file://dir` name the directory the store
    // reads from; comparing raw strings took them for a new path, skipped
    // the checkpoint and rewrote terms/ while triples/ kept the old ids
    val extra = t("zoe", "is", "cool")
    Seq[String => String](_ + "/", "file:" + _, "file://" + _).foreach { spell =>
      val dir = tempDir("ts_spell")
      TripleStore.fromTriples(spark, graph).persist(dir)
      val mutated = TripleStore.fromBackup(spark, dir).insertTriple(extra)
      mutated.persist(spell(dir))
      assert(TripleStore.fromBackup(spark, dir).triples.collect().toSet == graph.toSet + extra,
        spell(dir))
      assert(mutated.triples.collect().toSet == graph.toSet + extra, spell(dir))
    }
  }

  test("persisting back to the directory a store reads from keeps that backup whole") {
    // the store reads `a` but remembers `b` after persisting there; the
    // in-place decision must follow what it reads, not what it remembers
    val triples = (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))
    val extra = t("zoe", "is", "cool")
    val a = tempDir("ts_back_a")
    val b = tempDir("ts_back_b")
    TripleStore.fromTriples(spark, triples).persist(a)
    val st = TripleStore.fromBackup(spark, a).insertTriple(extra)
    st.persist(b)
    st.persist(a)
    val expected = triples.toSet + extra
    assert(TripleStore.fromBackup(spark, a).triples.collect().toSet == expected)
    assert(TripleStore.fromBackup(spark, b).triples.collect().toSet == expected)
    assert(st.triples.collect().toSet == expected)
    assert(st.persistLocation.contains(a))
  }

  test("removePattern store persisted over its source stays whole") {
    // a removePattern store is a filter over the backup it was restored
    // from, persisted both in place and back to that source after its
    // location moved. With adaptive execution and broadcast joins off,
    // no stage runs before the persist, so every dictionary and triple
    // read waits for the first action.
    val triples = (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))
    val gone = triples.filter(_.p == RdfTerm.named("p3")).toSet
    val expected = triples.toSet -- gone
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // in place: persist() to the location the store remembers
      val a = tempDir("ts_cut_a")
      TripleStore.fromTriples(spark, triples).persist(a)
      val inPlace = TripleStore.fromBackup(spark, a).removePattern(None, Some(RdfTerm.named("p3")), None)
      inPlace.persist()
      assert(TripleStore.fromBackup(spark, a).triples.collect().toSet == expected)
      assert(inPlace.triples.collect().toSet == expected)
      // back to the source after the location moved elsewhere unread
      val c = tempDir("ts_cut_c")
      val d = tempDir("ts_cut_d")
      TripleStore.fromTriples(spark, triples).persist(c)
      val restored = TripleStore.fromBackup(spark, c)
      restored.persist(d)
      val back = restored.removePattern(None, Some(RdfTerm.named("p3")), None)
      back.persist(c)
      assert(TripleStore.fromBackup(spark, c).triples.collect().toSet == expected)
      assert(back.triples.collect().toSet == expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a restored store keeps its triples when a store derived from it persists in place") {
    // fromBackup loads the backup once: rewriting that directory later
    // does not reach the stores already restored from it
    val dir = tempDir("ts_snap")
    TripleStore.fromTriples(spark, graph).persist(dir)
    val a = TripleStore.fromBackup(spark, dir)
    val x = t("zoe", "is", "cool")
    a.insertTriple(x).persist()
    assert(TripleStore.fromBackup(spark, dir).triples.collect().toSet == graph.toSet + x)
    assert(a.triples.collect().toSet == graph.toSet)
    val q = Sparql.parse("select $who where { $who is cool }")
    assert(a.get(q).map(_.value).sorted == Seq("gabe", "james"))
  }

  test("fromBackup reads every part file before it returns") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = tempDir("ts_trunc")
    TripleStore.fromTriples(spark,
      (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))).persist(dir)
    val walk = Files.walk(Paths.get(dir, "triples"))
    val parts = try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString) finally walk.close()
    val victim = parts.last
    Files.write(victim, Files.readAllBytes(victim).take(Files.size(victim).toInt / 2))
    intercept[Exception](TripleStore.fromBackup(spark, dir))
  }

  test("a restored store's footprint is its size, not the dictionary joins' estimate") {
    val triples = (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))
    val dir = tempDir("ts_fp")
    TripleStore.fromTriples(spark, triples).persist(dir)
    val restored = TripleStore.fromBackup(spark, dir).footprint
    val local = TripleStore.fromTriples(spark, triples).footprint
    assert(restored > 0 && restored < Long.MaxValue, restored)
    assert(restored <= local * 10 && local <= restored * 10, s"restored $restored, local $local")
  }

  test("a failed persist releases its dictionary caches") {
    val st = TripleStore.fromTriples(spark, Seq(t("only", "in", "this-test")))
    // a regular file where the backup directory should go: the first write fails
    val file = tempDir("ts_fail") + "/file.txt"
    java.nio.file.Files.createFile(java.nio.file.Paths.get(file))
    spark.catalog.clearCache() // suites run one at a time in the forked JVM
    intercept[Exception](st.persist(s"$file/backup"))
    assert(spark.sharedState.cacheManager.isEmpty, "a dictionary cache outlived the failed persist")
    assert(st.persistLocation.isEmpty)
  }

  test("the driver-side delta keeps set semantics against a Set model") {
    // IRIs (lang/datatype None) next to lang and typed literals with the
    // same lexical value, so the null-safe compare is exercised
    val pool = for {
      s <- Seq("s0", "s1", "s2"); p <- Seq("p0", "p1")
      o <- Seq(RdfTerm.named("v"), RdfTerm.langLit("v", "en"), RdfTerm.typedLit("v", "xsd:string"),
        RdfTerm.raw("v"))
    } yield Triple(RdfTerm.named(s), RdfTerm.named(p), o)
    val rnd = new scala.util.Random(7)
    def pick(): Triple = pool(rnd.nextInt(pool.size))
    def check(st: TripleStore, model: Set[Triple], what: String): Unit = {
      val rows = st.triples.collect()
      assert(rows.length == model.size, s"$what: duplicate or missing rows")
      assert(rows.toSet == model, what)
    }
    val initial = pool.take(10).toSet
    val dir = tempDir("ts_delta")
    TripleStore.fromTriples(spark, initial.toSeq).persist(dir)
    var st = TripleStore.fromBackup(spark, dir)
    var model = initial
    // fixed opening: insert an existing triple, remove an absent one,
    // remove then re-insert, duplicates within one call
    val present = initial.head
    val absent = pool.find(!initial(_)).get
    val opening = Seq[(String, TripleStore => TripleStore, Set[Triple] => Set[Triple])](
      ("insert existing", _.insertTriple(present), identity),
      ("remove absent", _.removeTriple(absent), identity),
      ("remove", _.removeTriple(present), _ - present),
      ("re-insert removed", _.insertTriple(present), _ + present),
      ("duplicates in one call", _.insertTriples(Seq(absent, absent, present)), _ + absent))
    val random = (1 to 30).map { i =>
      val ts = Seq.fill(1 + rnd.nextInt(3))(pick())
      rnd.nextInt(3) match {
        case 0 => (s"step $i insertTriple", (s: TripleStore) => s.insertTriple(ts.head),
          (m: Set[Triple]) => m + ts.head)
        case 1 => (s"step $i removeTriple", (s: TripleStore) => s.removeTriple(ts.head),
          (m: Set[Triple]) => m - ts.head)
        case _ => (s"step $i insertTriples", (s: TripleStore) => s.insertTriples(ts ++ ts),
          (m: Set[Triple]) => m ++ ts)
      }
    }
    (opening ++ random).foreach { case (what, op, mop) =>
      st = op(st); model = mop(model); check(st, model, what)
    }
    // in-place persist: the backup holds the model, the store stays
    // readable and keeps mutating on its checkpointed base
    st.persist()
    check(TripleStore.fromBackup(spark, dir), model, "restored after in-place persist")
    check(st, model, "store after in-place persist")
    check(st.removeTriple(present).insertTriple(absent), model - present + absent,
      "mutation after in-place persist")
    // update data blocks go through the same delta
    val named = t("s9", "p0", "o9")
    st = st.update("insert data { s9 p0 o9 }")
    model += named; check(st, model, "insert data")
    st = st.update("delete data { s9 p0 o9 . s0 p0 v }")
    model -= named; model -= Triple(RdfTerm.named("s0"), RdfTerm.named("p0"), RdfTerm.named("v"))
    check(st, model, "delete data")
    // data-derived derivations see the pending delta
    st = st.insertTriple(Triple(RdfTerm.named("s1"), RdfTerm.named("p0"), RdfTerm.raw("new")))
      .removeTriple(Triple(RdfTerm.named("s2"), RdfTerm.named("p0"), RdfTerm.raw("v")))
    model = model + Triple(RdfTerm.named("s1"), RdfTerm.named("p0"), RdfTerm.raw("new")) -
      Triple(RdfTerm.named("s2"), RdfTerm.named("p0"), RdfTerm.raw("v"))
    check(st.removePattern(Some(RdfTerm.named("s1")), None, None),
      model.filterNot(_.s == RdfTerm.named("s1")), "removePattern over a delta")
    check(st.update("delete where { $x <p1> $y }"),
      model.filterNot(_.p == RdfTerm.named("p1")), "delete where over a delta")
    // cache() still serves queries from the cached composition
    val cached = st.insertTriple(named).cache()
    val q = Sparql.parse("select $x where { $x p0 o9 }")
    assert(cached.query(q).queryExecution.withCachedData.collectFirst {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m }.nonEmpty)
    assert(cached.get(q) == Seq(RdfTerm.named("s9")))
    cached.triples.unpersist()
  }

  test("a delta of every term kind, over 2,000 triples, keeps set semantics in both eval paths") {
    // one lexical value under every kind: the delta must tell the IRI
    // `v` from the blank node, the plain, lang-tagged and typed literals
    // `v`, and null lang / datatype from a present one
    val kinds = Seq(RdfTerm.named("v"), RdfTerm.blank("v"), RdfTerm.raw("v"),
      RdfTerm.langLit("v", "en"), RdfTerm.langLit("v", "fr"),
      RdfTerm.typedLit("v", "xsd:string"), RdfTerm.typedLit("v", "xsd:int"))
    val subjects = (0 until 40).map(i => RdfTerm.named(s"s$i")) ++ Seq(RdfTerm.blank("s0"))
    val pool = for {
      s <- subjects; p <- Seq(RdfTerm.named("p"), RdfTerm.named("q")); o <- kinds
    } yield Triple(s, p, o)
    val rnd = new scala.util.Random(15)
    val initial = rnd.shuffle(pool).take(pool.size / 2).toSet
    val dir = tempDir("ts_kinds")
    TripleStore.fromTriples(spark, initial.toSeq).persist(dir)
    val q = Sparql.parse("select $p $o where { <s3> $p $o }")
    def check(st: TripleStore, model: Set[Triple], what: String): Unit = {
      val rows = st.triples.collect()
      assert(rows.length == model.size, s"$what: duplicate or missing rows")
      assert(rows.toSet == model, what)
      assert(st.query(q).count() == model.count(_.s == RdfTerm.named("s3")), what)
    }
    val generated = Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "FALLBACK")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    Seq(generated, interpreted).foreach { confs =>
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        var st = TripleStore.fromBackup(spark, dir)
        var model = initial
        val present = initial.head
        val absent = pool.find(!initial(_)).get
        val steps = Seq[(String, TripleStore => TripleStore, Set[Triple] => Set[Triple])](
          ("insert existing", _.insertTriple(present), identity),
          ("remove absent", _.removeTriple(absent), identity),
          ("insert then remove", _.insertTriple(absent).removeTriple(absent), identity),
          ("remove then insert", _.removeTriple(present).insertTriple(present), identity),
          ("remove", _.removeTriple(present), _ - present),
          ("insert", _.insertTriple(absent), _ + absent))
        steps.foreach { case (what, op, mop) =>
          st = op(st); model = mop(model); check(st, model, s"$confs $what")
        }
        // batches of fresh triples and pool triples until the delta
        // holds more than 2,000 triples
        (1 to 6).foreach { b =>
          val fresh = (0 until 400).map(i => Triple(RdfTerm.named(s"n$b-$i"),
            RdfTerm.named("p"), kinds(i % kinds.size)))
          val drawn = Seq.fill(60)(pool(rnd.nextInt(pool.size)))
          st = st.insertTriples(fresh ++ drawn.take(30)).removeTriples(drawn.drop(30))
          model = model ++ fresh ++ drawn.take(30) -- drawn.drop(30)
          check(st, model, s"$confs batch $b")
        }
        assert((model -- initial).size + (initial -- model).size > 2000)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("a store on a session without graft's functions registered mutates and queries") {
    val plain = spark.newSession()
    assert(!plain.catalog.functionExists("triple_in"))
    val dir = tempDir("ts_plain")
    TripleStore.fromTriples(plain, graph).persist(dir)
    val st = TripleStore.fromBackup(plain, dir)
      .insertTriple(t("zoe", "is", "cool")).removeTriple(t("gabe", "is", "cool"))
    assert(st.triples.collect().toSet == graph.toSet + t("zoe", "is", "cool") - t("gabe", "is", "cool"))
    val q = Sparql.parse("select $who where { $who is cool }")
    assert(st.get(q).map(_.value).sorted == Seq("james", "zoe"))
  }

  test("a store is a set: a triple stated twice is stored, iterated and persisted once") {
    import spark.implicits._
    val x = t("http://g.test/a", "http://g.test/knows", "http://g.test/b")
    assert(TripleStore.fromTriples(spark, Seq(x, x)).count() == 1)
    assert(TripleStore.fromDataset(Seq(x, x).toDS()).count() == 1)
    // two RDF/XML files that state the same triple, one of them twice
    val rdf = tempDir("ts_dup_rdf")
    val stmt = """<rdf:Description rdf:about="http://g.test/a">""" +
      """<ex:knows rdf:resource="http://g.test/b"/></rdf:Description>"""
    def doc(n: Int): String =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://g.test/">
        |""".stripMargin + (stmt + "\n") * n + "</rdf:RDF>\n"
    Seq("one.rdf" -> 1, "two.rdf" -> 2).foreach { case (f, n) =>
      java.nio.file.Files.writeString(java.nio.file.Path.of(rdf, f), doc(n))
    }
    val ingested = TripleStore.fromRdf(spark, rdf)
    assert(ingested.triples.collect().toSeq == Seq(x))
    assert(ingested.iter.toSeq == Seq(x))
    val dir = tempDir("ts_dup_backup")
    ingested.persist(dir)
    val restored = TripleStore.fromBackup(spark, dir)
    assert(restored.count() == 1)
    assert(restored.iter.toSeq == Seq(x))
  }

  test("a store over a column-built view runs the whole update chain") {
    // the view types some term fields non-nullable; the delta's rows
    // carry the Triple encoder's nullable ones
    val view = graft.operators.RdfOps.namedTriples(graft.operators.RdfOps.tripleView(spark, sf0001))
    val st = TripleStore.fromDataset(view)
      .update("insert data { GABE likes RIPPLE . NATION_2 in_region ASIA }")
      .update("insert { $r contains $n } where { $n in_region $r }")
      .update("delete data { NATION_2 in_region ASIA }")
      .update("delete where { $c in_segment BUILDING . $c in_nation NATION_2 }")
    val inserted = view.collect().toSet + t("GABE", "likes", "RIPPLE") + t("NATION_2", "in_region", "ASIA")
    val derived = (inserted ++ inserted.filter(_.p.value == "in_region")
      .map(x => Triple(x.o, RdfTerm.named("contains"), x.s))) - t("NATION_2", "in_region", "ASIA")
    val victims = derived.filter(_.o.value == "BUILDING").map(_.s) &
      derived.filter(_.o.value == "NATION_2").map(_.s)
    val model = derived -- victims.flatMap(c => Seq(Triple(c, RdfTerm.named("in_segment"),
      RdfTerm.named("BUILDING")), Triple(c, RdfTerm.named("in_nation"), RdfTerm.named("NATION_2"))))
    assert(victims.nonEmpty)
    assert(st.triples.collect().toSet == model)
  }

  test("a backup whose id rows state a triple twice restores as a set") {
    val dir = tempDir("ts_dup_ids")
    TripleStore.fromTriples(spark, graph).persist(dir)
    // a second copy of every id row, as a writer that kept duplicates left it
    spark.read.parquet(s"$dir/triples").localCheckpoint(eager = true)
      .write.mode("append").partitionBy("p_id").parquet(s"$dir/triples")
    assert(spark.read.parquet(s"$dir/triples").count() == 2 * graph.size)
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.count() == graph.size)
    assert(back.triples.collect().toSet == graph.toSet)
  }

  test("query skips the distinct only where the store's set makes it redundant") {
    import spark.implicits._
    import graft.query.Bgp
    // same-value terms of every kind, so a bare `x` and a `"x"` match
    // several terms; both stores are built from a list that states
    // every triple twice
    val values = Seq("x", "y")
    val nodes = values.flatMap(v => Seq(RdfTerm.named(v), RdfTerm.blank(v)))
    val objects = nodes ++ values.flatMap(v => Seq(RdfTerm.raw(v), RdfTerm.langLit(v, "en"),
      RdfTerm.typedLit(v, "http://g.test/dt")))
    val preds = Seq(RdfTerm.named("p"), RdfTerm.named("q"))
    val rnd = new scala.util.Random(12)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val ts = Seq.fill(40)(Triple(pick(nodes), pick(preds), pick(objects)))
    val stores = Seq(TripleStore.fromTriples(spark, ts ++ ts),
      TripleStore.fromDataset((ts ++ ts).toDS()))
    val vars = Seq("$a", "$b", "$c")
    val subjects = vars ++ values.flatMap(v => Seq(s"<$v>", s"_:$v", v))
    val predicates = vars ++ Seq("<p>", "<q>", "p", "q")
    val objectToks = subjects ++ values.map(v => "\"" + v + "\"")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString).sorted
    val fired = (1 to 40).map { i =>
      val drawn = Seq.fill(1 + rnd.nextInt(3))(Seq(pick(subjects), pick(predicates), pick(objectToks)))
      val pats =
        if (drawn.flatten.exists(vars.contains)) drawn else drawn :+ Seq("$a", "<p>", "$b")
      val selected = pats.flatten.filter(vars.contains).distinct
      val order = if (rnd.nextBoolean()) s" order by ${selected.head}" else ""
      val text = s"select ${selected.mkString(" ")} where { " +
        pats.map(_.mkString(" ")).mkString(" . ") + s" }$order"
      val q = Sparql.parse(text)
      stores.foreach { st =>
        assert(rows(st.query(q)) == rows(Bgp.compile(st.triples.toDF(), q, distinct = true)),
          s"query $i: $text")
      }
      Bgp.distinctOverSet(q)
    }
    // both sides of the rule ran
    assert(fired.count(identity) >= 5 && fired.count(!_) >= 5, fired)
  }

  test("bare and literal-typed constants keep the distinct: one row per solution") {
    val st = TripleStore.fromTriples(spark, Seq(t("a", "p", "x"),
      Triple(RdfTerm.named("a"), RdfTerm.named("p"), RdfTerm.raw("x"))))
    assert(st.query(Sparql.parse("select $s where { $s <p> x }")).count() == 1)
    assert(st.query(Sparql.parse("select $s where { $s <p> \"x\" }")).count() == 1)
    assert(st.query(Sparql.parse("select $s where { $s <p> <x> }")).count() == 1)
  }

  test("named-term views are analysis-time projections in the Triple encoder's schema") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, SerializeFromObject}
    val ds = graft.operators.RdfOps.namedTriples(Seq(("a", "p", "b")).toDF("s", "p", "o"))
    // names, order and types; nullability is the encoder's to relax
    assert(ds.schema.catalogString == Encoders.product[Triple].schema.catalogString)
    val plan = ds.queryExecution.optimizedPlan
    assert(plan.collect { case n: DeserializeToObject => n; case n: SerializeFromObject => n }
      .isEmpty, plan)
    assert(ds.collect().toSeq == Seq(t("a", "p", "b")))
  }
}
