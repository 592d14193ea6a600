package graft.rdf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded RDF/XML corpus in the shape of the reference's conference
  * dumps (FIXTURES.md §1, §3), for tests that need real-looking files on
  * disk but not the dumps themselves.
  *
  * Each file holds one conference: its `foaf:Person`s (name, `xml:lang`
  * label, affiliation), its `swrc:InProceedings` (`dc:title`, an English
  * abstract, an `xsd:gYear` year, creators) and, per paper, an author
  * list `rdf:Seq` named by `rdf:nodeID`. Node ids restart in every file,
  * as they do across the real dumps, so blank scoping per document is
  * observable. Every file also has one `rdf:parseType="Resource"`
  * property, one nested typed node (the proceedings, inside the first
  * paper's `swc:isPartOf`) and one title holding `&`, `<` and non-ASCII
  * text.
  *
  * Sized like the dumps (3 files, about 250 KB): a persisted store
  * carries about 40 KB of fixed parquet overhead, so a toy corpus would
  * measure that overhead and not compression. Written once per JVM into
  * a temp directory, deleted on exit.
  */
object ConferenceCorpus {
  private val Seed = 2011L
  val FileCount = 3
  private val PeoplePerFile = 60
  private val PapersPerFile = 55

  /** An `rdf:nodeID` that every file states (the first paper's author list). */
  val SharedNodeId = "authors0"

  /** The first paper's title in every file, as parsed (the file escapes it). */
  val TrickyTitle = "Schema mapping & <alignment> über Zürich – ΣΠ ✓"

  private val Words = ("graph query store semantic linked data ontology reasoning scalable " +
    "distributed index triple sparql web knowledge schema mapping stream provenance entity " +
    "alignment embedding federated benchmark").split(' ')

  private val Ns = Seq(
    "rdf" -> Rdf.RdfNs,
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "dc" -> "http://purl.org/dc/elements/1.1/",
    "swrc" -> "http://swrc.ontoware.org/ontology#",
    "swc" -> "http://data.semanticweb.org/ns/swc/ontology#",
    "ical" -> "http://www.w3.org/2002/12/cal/ical#")
  private val Base = "http://data.example.org/"
  private val GYear = "http://www.w3.org/2001/XMLSchema#gYear"

  /** The corpus directory, holding only the generated `.rdf` files. */
  lazy val dir: Path = {
    val d = Files.createTempDirectory("conference_corpus")
    d.toFile.deleteOnExit()
    val rng = new Random(Seed)
    (0 until FileCount).foreach { i =>
      val f = d.resolve(f"conf-$i%03d.rdf")
      Files.write(f, document(i, rng).getBytes(UTF_8))
      f.toFile.deleteOnExit()
    }
    d
  }

  /** The corpus files in sorted order, the order `fromRdf` indexes them in. */
  def files: Seq[Path] = (0 until FileCount).map(i => dir.resolve(f"conf-$i%03d.rdf"))

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def words(rng: Random, n: Int): String =
    Seq.fill(n)(Words(rng.nextInt(Words.length))).mkString(" ")

  private def document(f: Int, rng: Random): String = {
    val sb = new StringBuilder
    def line(s: String): Unit = sb.append(s).append('\n')
    val year = 2006 + f
    val conf = s"${Base}conference/c$year"
    val proc = s"$conf/proceedings"
    val people = (0 until PeoplePerFile).map(i => s"${Base}person/p${f * PeoplePerFile + i}")

    line("""<?xml version="1.0" encoding="UTF-8"?>""")
    line(Ns.map { case (p, u) => s"""xmlns:$p="$u"""" }.mkString("<rdf:RDF ", "\n         ", ">"))
    line(s"""  <swc:ConferenceEvent rdf:about="$conf">""")
    line(s"""    <rdfs:label xml:lang="en">Conference $year</rdfs:label>""")
    line("""    <ical:location rdf:parseType="Resource">""")
    line(s"""      <rdfs:label xml:lang="de">Tagungszentrum $f</rdfs:label>""")
    line(s"""      <ical:geo rdf:datatype="http://www.w3.org/2001/XMLSchema#string">${48 + f}.1;11.5</ical:geo>""")
    line("""    </ical:location>""")
    line("""  </swc:ConferenceEvent>""")
    people.zipWithIndex.foreach { case (p, i) =>
      val name = words(rng, 2).split(' ').map(_.capitalize).mkString(" ")
      line(s"""  <foaf:Person rdf:about="$p">""")
      line(s"""    <foaf:name>$name</foaf:name>""")
      line(s"""    <rdfs:label xml:lang="en">$name ($i)</rdfs:label>""")
      line(f"""    <foaf:mbox_sha1sum>${rng.nextLong()}%016x</foaf:mbox_sha1sum>""")
      line(s"""    <swrc:affiliation rdf:resource="${Base}organization/o${rng.nextInt(12)}"/>""")
      line("""  </foaf:Person>""")
    }
    (0 until PapersPerFile).foreach { j =>
      val title = if (j == 0) esc(TrickyTitle) else words(rng, 4 + rng.nextInt(6)).capitalize
      line(s"""  <swrc:InProceedings rdf:about="$conf/paper/$j">""")
      line(s"""    <dc:title>$title</dc:title>""")
      line(s"""    <swrc:abstract xml:lang="en">${words(rng, 40)}</swrc:abstract>""")
      line(s"""    <swrc:year rdf:datatype="$GYear">$year</swrc:year>""")
      if (j == 0) {
        line("""    <swc:isPartOf>""")
        line(s"""      <swrc:Proceedings rdf:about="$proc">""")
        line(s"""        <rdfs:label xml:lang="en">Proceedings of Conference $year</rdfs:label>""")
        line(s"""        <swrc:year rdf:datatype="$GYear">$year</swrc:year>""")
        line("""      </swrc:Proceedings>""")
        line("""    </swc:isPartOf>""")
      } else line(s"""    <swc:isPartOf rdf:resource="$proc"/>""")
      val authors = rng.shuffle(people).take(1 + rng.nextInt(4))
      authors.foreach(a => line(s"""    <dc:creator rdf:resource="$a"/>"""))
      line(s"""    <foaf:maker rdf:nodeID="authors$j"/>""")
      line("""  </swrc:InProceedings>""")
      line(s"""  <rdf:Seq rdf:nodeID="authors$j">""")
      authors.foreach(a => line(s"""    <rdf:li rdf:resource="$a"/>"""))
      line("""  </rdf:Seq>""")
    }
    line("</rdf:RDF>")
    sb.toString
  }
}
