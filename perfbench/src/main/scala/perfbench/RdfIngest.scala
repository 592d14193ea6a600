package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.query.Sparql
import graft.rdf.{RdfTerm, RdfXmlParser, RdfXmlWriter, Triple}
import graft.store.TripleStore

/** A lookup and its true solution count, as the generator computed it. */
final case class Lookup(sparql: String, expected: Long)

/** One mutation, then a lookup whose answer shows it took effect. */
final case class Mutation(insert: Boolean, triple: Triple, check: Lookup)

/** The generated corpus and its ground truth (written by rdfgen.py). */
final case class Corpus(dir: String, inputBytes: Long, triples: Long,
    lookups: Seq[Lookup], mutations: Seq[Mutation])

object Corpus {
  private def term(n: JsonNode): RdfTerm = {
    def opt(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText)
    RdfTerm(n.get("kind").asText, n.get("value").asText, opt("lang"), opt("datatype"))
  }
  private def lookup(n: JsonNode) = Lookup(n.get("sparql").asText, n.get("expected").asLong)

  def load(dir: String): Corpus = {
    val t = Json.read(s"$dir/truth.json")
    Corpus(s"$dir/rdf", t.get("input_bytes").asLong, t.get("triples").asLong,
      t.get("lookups").elements().asScala.map(lookup).toSeq,
      t.get("mutations").elements().asScala.map { m =>
        val tr = m.get("triple")
        Mutation(m.get("op").asText == "insert",
          Triple(term(tr.get("s")), term(tr.get("p")), term(tr.get("o"))), lookup(m.get("check")))
      }.toSeq)
  }
}

/** One pass of the `rdf_ingest` workload: RDF/XML ingest → persist →
  * restore → lookups → mutation loop → in-place re-persist. Every phase
  * calls the public API of the `store`, `query` and `rdf` modules, and
  * every answer is checked against the generator's truth. */
final class RdfIngest(spark: SparkSession, corpus: Corpus, workDir: String) {
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def noop(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  private def fail(msg: String): Nothing = throw new CheckFailed(msg)

  /** Runs a lookup; returns (parse µs, compile ms, total ms). */
  private def lookup(st: TripleStore, l: Lookup): (Double, Double, Double) = {
    val t0 = System.nanoTime()
    val q = Sparql.parse(l.sparql)
    val parseUs = ms(t0) * 1000
    val t1 = System.nanoTime()
    val df = st.query(q)
    df.queryExecution.analyzed
    val compileMs = ms(t1)
    val n = df.collect().length
    val total = ms(t0)
    if (n != l.expected) fail(s"lookup '${l.sparql}' gave $n rows, expected ${l.expected}")
    (parseUs, compileMs, total)
  }

  private def dirBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Checksum and count of a store, computed in Spark, for comparing two
    * stores without collecting them. */
  private def digest(st: TripleStore): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(col("s"), col("p"), col("o"))
    val r = st.triples.toDF()
      .agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(h, 32)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Phase timings (ms) and sizes of one pass, plus per-lookup and
    * per-mutation latencies. Its checks run between the timed phases. */
  def pass(id: Int): Done = {
    val path = s"$workDir/store-$id"
    val out = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    def add(k: String, v: Double): Unit = out(k) = out(k) :+ v

    var t0 = System.nanoTime()
    val ingested = TripleStore.fromRdf(spark, corpus.dir)
    noop(ingested.triples)
    add("ingest_ms", ms(t0))

    t0 = System.nanoTime()
    ingested.persist(path)
    add("persist_ms", ms(t0))
    val persisted = dirBytes(path)
    add("persisted_bytes", persisted.toDouble)
    add("store_bytes_per_input_byte", persisted.toDouble / corpus.inputBytes)

    t0 = System.nanoTime()
    val restored = TripleStore.fromBackup(spark, path)
    noop(restored.triples)
    add("restore_ms", ms(t0))

    val before = digest(ingested)
    if (before._1 != corpus.triples)
      fail(s"ingested ${before._1} triples, generator wrote ${corpus.triples}")
    if (digest(restored) != before) fail("restored store differs from the persisted one")

    corpus.lookups.foreach { l =>
      val (p, c, total) = lookup(restored, l)
      add("parse_us", p); add("compile_ms", c); add("lookup_ms", total)
    }

    var st = restored
    corpus.mutations.foreach { m =>
      t0 = System.nanoTime()
      st = if (m.insert) st.insertTriple(m.triple) else st.removeTriple(m.triple)
      val (p, c, _) = lookup(st, m.check)
      val total = ms(t0)
      add("mutation_ms", total); add("parse_us", p); add("compile_ms", c)
      add(if (m.insert) "insert_ms" else "remove_ms", total)
    }
    add("plan_nodes", st.triples.queryExecution.analyzed.collect { case n => n }.size.toDouble)
    val inserts = corpus.mutations.count(_.insert)
    val expectedAfter = corpus.triples + inserts - (corpus.mutations.size - inserts)
    val after = st.count()
    if (after != expectedAfter) fail(s"after mutations: $after triples, expected $expectedAfter")

    t0 = System.nanoTime()
    st.persist()
    add("repersist_ms", ms(t0))
    Done(out.toMap)
  }

  /** Driver-side parser and writer throughput over the corpus files. */
  def parserThroughput(): Map[String, Double] = {
    val files = new java.io.File(corpus.dir).listFiles().filter(_.getName.endsWith(".rdf")).sortBy(_.getName)
    val texts = files.map(f => java.nio.file.Files.readString(f.toPath))
    val mb = texts.map(_.getBytes("UTF-8").length).sum / 1e6
    var t0 = System.nanoTime()
    val parsed = texts.map(RdfXmlParser.parseString)
    val parseS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val written = parsed.map(ts => RdfXmlWriter.triplesToRdfXml(ts.iterator).length.toLong).sum
    val writeS = (System.nanoTime() - t0) / 1e9
    Map("parse_mb_per_s" -> mb / parseS, "write_mb_per_s" -> written / 1e6 / writeS)
  }
}
