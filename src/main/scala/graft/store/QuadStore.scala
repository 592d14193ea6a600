package graft.store

import graft.query.{GraphRef, Sparql, UpdateOp}
import graft.rdf.Triple
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One statement of an RDF dataset: `g = None` is the default graph. */
final case class Quad(
    g: Option[String], s: graft.rdf.RdfTerm, p: graft.rdf.RdfTerm, o: graft.rdf.RdfTerm)

/** An RDF DATASET (default graph + named graphs) with the SPARQL 1.1
  * Update operations a [[TripleStore]] cannot express: the §3.2 graph
  * management verbs (CREATE/CLEAR/DROP/ADD/COPY/MOVE), §3.1.4 LOAD,
  * and the `graph <g> { … }` quad forms of INSERT/DELETE DATA. This
  * extends the reference's single-graph model (graph.rs:29-38 has no
  * dataset notion) with the standard dataset semantics its SPARQL
  * front-end implies.
  *
  * The dataset is a driver-side map from graph to an immutable
  * [[TripleStore]]. Its named keys are the graph CATALOG: a CLEARed
  * graph maps to an empty store (SPARQL keeps it, so CREATE fails), a
  * DROPped one has no key (CREATE succeeds again). The default graph
  * is always a key.
  *
  * Scale posture: CREATE/CLEAR/DROP/COPY/MOVE only edit the map (COPY
  * shares the source's store), and the quad-form data blocks edit one
  * graph's driver-side delta, so neither deepens any plan however many
  * verbs run. ADD and LOAD combine data: each stacks one
  * `union + distinct` on the DESTINATION graph only, and every other
  * graph passes through unshuffled. Nothing collects data.
  */
final class QuadStore private (
    val spark: SparkSession,
    graphs: Map[Option[String], TripleStore]) {

  import spark.implicits._

  /** Named graphs that exist, empty (CLEARed) ones included. */
  def graphNames: Set[String] = graphs.keySet.flatten

  /** Every graph's triples with its label as a literal `g` column. */
  lazy val quads: Dataset[Quad] =
    graphs.toSeq.sortBy(_._1).map { case (g, st) =>
      st.triples.select(lit(g.orNull).cast("string").as("g"), $"s", $"p", $"o")
    }.reduce(_ union _).as[Quad]

  def count(): Long = quads.count()

  /** The graph's own [[TripleStore]] (for querying or the triple-form
    * WHERE updates); an absent graph reads as empty. */
  def graph(g: Option[String]): TripleStore =
    graphs.getOrElse(g, empty)

  /** SPARQL 1.1 Update over the dataset. Graph-management error
    * semantics follow §3.2: non-SILENT CREATE of an existing graph,
    * or CLEAR/DROP/ADD/COPY/MOVE of an absent one, fail; SILENT
    * versions no-op instead. */
  def update(u: String): QuadStore = Sparql.parseUpdate(u) match {
    case UpdateOp.InsertData(ts, g) =>
      edit(graphs.updated(g, graph(g).insertTriples(ts.map(TripleStore.dataTriple))))
    case UpdateOp.DeleteData(ts, g) =>
      graphs.get(g).fold(this)(st =>
        edit(graphs.updated(g, st.removeTriples(ts.map(TripleStore.dataTriple)))))

    case UpdateOp.GraphMgmt("create", silent, GraphRef.Named(n), None) =>
      if (graphs.contains(Some(n))) {
        if (silent) this
        else throw new IllegalArgumentException(s"create: graph $n already exists")
      } else edit(graphs.updated(Some(n), empty))

    case UpdateOp.GraphMgmt(verb @ ("clear" | "drop"), silent, target, None) =>
      requireExists(verb, silent, target) { () =>
        val hit = graphs.keySet.filter(k => target match {
          case GraphRef.Named(n) => k.contains(n)
          case GraphRef.Default  => k.isEmpty
          case GraphRef.AllNamed => k.isDefined
          case GraphRef.All      => true
        })
        // dropping the default graph empties it: it always exists
        val (dropped, cleared) =
          if (verb == "drop") hit.partition(_.isDefined) else (Set.empty[Option[String]], hit)
        edit(graphs -- dropped ++ cleared.map(_ -> empty))
      }

    case UpdateOp.GraphMgmt(verb @ ("add" | "copy" | "move"), silent, src, Some(dst)) =>
      if (src == dst) this // §3.2.5-7: same-graph forms are no-ops
      else requireExists(verb, silent, src) { () =>
        val (s, d) = (key(src), key(dst))
        verb match {
          case "add"  => edit(graphs.updated(d, merged(d, graph(s).triples)))
          case "copy" => edit(graphs.updated(d, graph(s)))
          case _ =>
            val rest = if (s.isEmpty) graphs.updated(s, empty) else graphs - s
            edit(rest.updated(d, graph(s)))
        }
      }

    case UpdateOp.Load(silent, source, into) =>
      try {
        // route by extension like the readers themselves do; all three
        // go through the Hadoop-FS + binaryFile/text path, so LOAD
        // reads cluster storage, not submit-host files
        val lower = source.toLowerCase
        val ts: Dataset[Triple] =
          if (lower.endsWith(".nt")) graft.rdf.NTriples.read(spark, source)
          else if (lower.endsWith(".ttl")) graft.rdf.Turtle.read(spark, source)
          else if (lower.endsWith(".rdf")) TripleStore.fromRdf(spark, source).triples
          else throw new IllegalArgumentException(
            s"load supports .nt/.ttl/.rdf documents, got: $source")
        // SILENT must make the operation always succeed (§3.1.4), but
        // the per-file parse runs lazily on executors — force one
        // validating pass NOW so content errors are caught here and
        // swallowed, not thrown from the next unrelated action
        if (silent) ts.count()
        edit(graphs.updated(into, merged(into, ts)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (silent) this
          else throw new IllegalArgumentException(s"load $source failed: ${e.getMessage}", e)
      }

    case other => throw new IllegalArgumentException(
      s"unsupported dataset update: $other — triple-form WHERE updates " +
        "run per graph via graph(g).update(…)")
  }

  private def edit(next: Map[Option[String], TripleStore]): QuadStore =
    new QuadStore(spark, next)

  private def empty: TripleStore = TripleStore.fromTriples(spark, Nil)

  /** Graph `g` set-unioned with `ts` ([[TripleStore.fromDataset]]'s
    * `distinct`): the one plan layer ADD and LOAD stack, on that graph
    * only. */
  private def merged(g: Option[String], ts: Dataset[Triple]): TripleStore =
    TripleStore.fromDataset(graph(g).triples.union(ts))

  /** The map key of an ADD/COPY/MOVE operand (the parser admits only
    * `graph <name>` and `default` there). */
  private def key(r: GraphRef): Option[String] = r match {
    case GraphRef.Named(n) => Some(n)
    case GraphRef.Default  => None
    case other => throw new IllegalArgumentException(
      s"cannot write into graph operand $other")
  }

  private def requireExists(verb: String, silent: Boolean, r: GraphRef)(
      run: () => QuadStore): QuadStore = r match {
    case GraphRef.Named(n) if !graphs.contains(Some(n)) =>
      if (silent) this
      else throw new IllegalArgumentException(s"$verb: no such graph $n")
    case _ => run()
  }
}

object QuadStore {
  /** Dataset from explicit graphs: `None` keys the default graph, which
    * is empty when not given. */
  def fromGraphs(spark: SparkSession,
      graphs: Seq[(Option[String], Dataset[Triple])]): QuadStore = {
    require(graphs.map(_._1).distinct.size == graphs.size,
      s"fromGraphs takes each graph once: ${graphs.map(_._1)}")
    new QuadStore(spark, (Seq(Option.empty[String] -> TripleStore.fromTriples(spark, Nil)) ++
      graphs.map { case (g, ts) => g -> TripleStore.fromDataset(ts) }).toMap)
  }
}
