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

  test("graph(g) slices a TripleStore view; same-graph add/copy/move no-op") {
    assert(store.graph(Some("g1")).count() == 2)
    assert(store.graph(None).count() == 1)
    assert(contents(store.update("move g1 to g1")) == contents(store))
  }
}
