package graft.store

import graft.SparkSpec
import graft.rdf.{RdfTerm, Triple}

/** SPARQL 1.1 Update §3.2 semantics the final-state oracle cannot
  * observe: the graph CATALOG distinguishes CLEAR (graph stays, empty)
  * from DROP (graph gone, CREATE succeeds again), and SILENT turns the
  * §3.2 error cases into no-ops. */
class QuadStoreSpec extends SparkSpec {

  def t(s: String, p: String, o: String): Triple =
    Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))

  def store: QuadStore = {
    import spark.implicits._
    QuadStore.fromGraphs(spark, Seq(
      None -> Seq(t("a", "p", "b")).toDS(),
      Some("g1") -> Seq(t("c", "p", "d"), t("e", "p", "f")).toDS()))
  }

  def contents(qs: QuadStore): Set[(String, String, String, String)] =
    qs.quads.collect().map(q =>
      (q.g.getOrElse("default"), q.s.value, q.p.value, q.o.value)).toSet

  test("clear empties a graph but keeps it in the catalog; drop removes it") {
    val cleared = store.update("clear graph g1")
    assert(contents(cleared) == Set(("default", "a", "p", "b")))
    assert(cleared.graphNames == Set("g1"))
    // a cleared graph still exists: re-CREATE errors, DROP succeeds
    assertThrows[IllegalArgumentException](cleared.update("create graph g1"))
    val dropped = cleared.update("drop graph g1")
    assert(dropped.graphNames.isEmpty)
    assert(dropped.update("create graph g1").graphNames == Set("g1"))
  }

  test("non-silent ops on absent graphs fail; silent versions no-op") {
    assertThrows[IllegalArgumentException](store.update("clear graph nope"))
    assertThrows[IllegalArgumentException](store.update("drop graph nope"))
    assertThrows[IllegalArgumentException](store.update("add nope to g1"))
    assertThrows[IllegalArgumentException](store.update("create graph g1"))
    assert(contents(store.update("clear silent graph nope")) == contents(store))
    assert(contents(store.update("copy silent nope to g1")) == contents(store))
    assert(store.update("create silent graph g1").graphNames == Set("g1"))
  }

  test("add unions into the target; copy replaces it; move also drops the source") {
    val s2 = store.update("insert data { graph g2 { x q y } }")
    val added = s2.update("add g1 to g2")
    assert(contents(added).count(_._1 == "g2") == 3)
    assert(contents(added).count(_._1 == "g1") == 2)
    val copied = s2.update("copy g1 to g2")
    assert(contents(copied).filter(_._1 == "g2") ==
      Set(("g2", "c", "p", "d"), ("g2", "e", "p", "f")))
    val moved = s2.update("move g1 to g2")
    assert(contents(moved).count(_._1 == "g1") == 0)
    assert(moved.graphNames == Set("g2"))
    // default participates as an operand
    val toDefault = store.update("add g1 to default")
    assert(contents(toDefault).count(_._1 == "default") == 3)
  }

  test("quad-form insert/delete data target one graph only") {
    val s2 = store
      .update("insert data { graph g1 { n1 p n2 } }")
      .update("delete data { graph g1 { c p d } }")
    assert(contents(s2).filter(_._1 == "g1") ==
      Set(("g1", "n1", "p", "n2"), ("g1", "e", "p", "f")))
    // deleting the same triple from the DEFAULT graph touches nothing
    val s3 = store.update("delete data { c p d }")
    assert(contents(s3) == contents(store))
  }

  test("load reads an NT document into a named graph; silent load of a bad path no-ops") {
    val nt = java.nio.file.Paths.get(tempDir("quadstore_load"), "load.nt")
    java.nio.file.Files.write(nt, java.util.Arrays.asList(
      "<http://g.test/s> <http://g.test/p> <http://g.test/o> ."))
    val loaded = store.update(s"load <${nt.toUri}> into graph lg")
    assert(contents(loaded).filter(_._1 == "lg") ==
      Set(("lg", "http://g.test/s", "http://g.test/p", "http://g.test/o")))
    assert(loaded.graphNames == Set("g1", "lg"))
    assertThrows[IllegalArgumentException](
      store.update("load /no/such/file.nt into graph lg"))
    assert(contents(store.update("load silent /no/such/file.nt into graph lg"))
      == contents(store))
    // SILENT also swallows CONTENT errors, which parse lazily on
    // executors — the op must validate eagerly, not throw at the next
    // action (SPARQL 1.1 §3.1.4; review r9 #4)
    val bad = java.nio.file.Paths.get(tempDir("quadstore_bad"), "bad.ttl")
    java.nio.file.Files.write(bad, java.util.Arrays.asList(
      "this is not turtle @@@"))
    val silentBad = store.update(s"load silent <${bad.toUri}> into graph lg")
    assert(contents(silentBad) == contents(store)) // forces the scan: no throw
  }

  test("a seeded verb script keeps set semantics against a Map model") {
    type Model = Map[Option[String], Set[Triple]]
    // the update text and the model after it; None: the update must fail
    type Step = (String, Model => Option[Model])
    val none = Set.empty[Triple]
    def sil(silent: Boolean) = if (silent) " silent" else ""
    // a §3.2 verb whose operand check fails throws, or no-ops when SILENT
    def guard(ok: Model => Boolean, silent: Boolean)(f: Model => Model): Model => Option[Model] =
      m => if (ok(m)) Some(f(m)) else if (silent) Some(m) else None
    def ref(g: Option[String]) = g.fold("default")(n => s"graph $n")
    def block(g: Option[String], ts: Seq[Triple]) = {
      val data = ts.map(x => s"${x.s.value} ${x.p.value} ${x.o.value}").mkString(" . ")
      g.fold(s"{ $data }")(n => s"{ graph $n { $data } }")
    }
    def create(n: String, silent: Boolean): Step =
      (s"create${sil(silent)} graph $n", guard(!_.contains(Some(n)), silent)(_ + (Some(n) -> none)))
    // clear or drop over `graph <n>`, `default`, `named` or `all`
    def wipe(verb: String, operand: String, silent: Boolean): Step = {
      val hit: Option[String] => Boolean = operand match {
        case "default" => _.isEmpty
        case "named"   => _.isDefined
        case "all"     => _ => true
        case named     => _.contains(named.stripPrefix("graph "))
      }
      (s"$verb${sil(silent)} $operand",
        guard(m => !operand.startsWith("graph ") || m.keySet.exists(hit), silent) { m =>
          // the default graph always exists: dropping it empties it
          val kept = if (verb == "drop") m.filter { case (g, _) => g.isEmpty || !hit(g) } else m
          kept.map { case (g, ts) => g -> (if (hit(g)) none else ts) }
        })
    }
    def xfer(verb: String, src: Option[String], dst: Option[String], silent: Boolean): Step =
      (s"$verb${sil(silent)} ${ref(src)} to ${ref(dst)}",
        guard(m => src == dst || m.contains(src), silent) { m =>
          val from = m.getOrElse(src, none)
          if (src == dst) m else verb match {
            case "add"  => m.updated(dst, m.getOrElse(dst, none) ++ from)
            case "copy" => m.updated(dst, from)
            case "move" => (if (src.isEmpty) m.updated(src, none) else m - src).updated(dst, from)
          }
        })
    def ins(g: Option[String], ts: Seq[Triple]): Step =
      (s"insert data ${block(g, ts)}", m => Some(m.updated(g, m.getOrElse(g, none) ++ ts)))
    def del(g: Option[String], ts: Seq[Triple]): Step =
      (s"delete data ${block(g, ts)}", m => Some(m.get(g).fold(m)(old => m.updated(g, old -- ts))))

    val (g1, g2, g3) = (Some("g1"), Some("g2"), Some("g3"))
    // fixed opening: mutate a COPY's source, then the copy, then move
    // the copy away; verbs on the moved graph fail unless SILENT
    val opening = Seq(
      xfer("copy", g1, g2, silent = false),
      ins(g1, Seq(t("n1", "p", "n2"))),
      del(g1, Seq(t("c", "p", "d"))),
      del(g2, Seq(t("e", "p", "f"))),
      xfer("copy", None, g3, silent = false),
      ins(None, Seq(t("a", "p", "x"))),
      xfer("move", g2, None, silent = false),
      wipe("drop", "graph g2", silent = false),
      wipe("drop", "graph g2", silent = true),
      xfer("add", g2, g1, silent = false),
      create("g1", silent = false),
      wipe("clear", "named", silent = false))
    val names = Seq("g1", "g2", "g3")
    val pool = for (s <- Seq("a", "b", "c"); o <- Seq("x", "y")) yield t(s, "p", o)
    val rnd = new scala.util.Random(11)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def graphOf(): Option[String] = if (rnd.nextInt(4) == 0) None else Some(pick(names))
    val random = Seq.fill(28) {
      val silent = rnd.nextInt(3) == 0
      rnd.nextInt(7) match {
        case 0 => create(pick(names), silent)
        case 1 => wipe(pick(Seq("clear", "drop")),
          pick(names.map("graph " + _) ++ Seq("default", "named", "all")), silent)
        case 2 | 3 => xfer(pick(Seq("add", "copy", "move")), graphOf(), graphOf(), silent)
        case 4 | 5 => ins(graphOf(), Seq.fill(1 + rnd.nextInt(2))(pick(pool)))
        case _ => del(graphOf(), Seq.fill(1 + rnd.nextInt(2))(pick(pool)))
      }
    }
    var qs = store
    var model: Model = Map(None -> Set(t("a", "p", "b")), g1 -> Set(t("c", "p", "d"), t("e", "p", "f")))
    (opening ++ random :+ wipe("drop", "all", silent = false)).zipWithIndex.foreach {
      case ((u, next), i) =>
        next(model) match {
          case Some(m) => qs = qs.update(u); model = m
          case None => assertThrows[IllegalArgumentException](qs.update(u))
        }
        val rows = qs.quads.collect()
        val want = for ((g, ts) <- model.toSeq; x <- ts.toSeq)
          yield (g.getOrElse("default"), x.s.value, x.p.value, x.o.value)
        assert(rows.length == want.size, s"step $i `$u`: duplicate or missing rows")
        assert(contents(qs) == want.toSet, s"step $i `$u`")
        assert(qs.graphNames == model.keySet.flatten, s"step $i `$u`")
    }
  }

  test("graph(g) slices a TripleStore view; same-graph add/copy/move no-op") {
    assert(store.graph(Some("g1")).count() == 2)
    assert(store.graph(None).count() == 1)
    assert(contents(store.update("move g1 to g1")) == contents(store))
  }
}
