package graft.operators

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.ShortestPaths

/** [[GraphOps.landmarkHops]] and [[GraphOps.triangleCounts]] (dataflow)
  * against GraphX's `ShortestPaths` and `triangleCount` on synthetic
  * graphs, plus the job shape of `graphx_sssp`. */
class GraphOpsSpec extends SparkSpec {

  private def graph(edges: Seq[(Long, Long)]): Graph[Int, Unit] =
    Graph.fromEdges(spark.sparkContext.parallelize(edges.map { case (a, b) => Edge(a, b, ()) }), 0)

  test("landmark hops equal GraphX ShortestPaths") {
    import spark.implicits._
    val chain = Seq(4L -> 3L, 3L -> 2L, 2L -> 1L)          // 4 → 3 → 2 → 1 (landmark)
    val diamond = Seq(10L -> 11L, 11L -> 1L, 10L -> 12L, 12L -> 13L, 13L -> 1L)
    val cycle = Seq(20L -> 21L, 21L -> 20L, 21L -> 2L)      // a 2-cycle into the chain
    val lmToLm = Seq(1L -> 30L)                               // landmark 1 reaches landmark 30
    val dead = Seq(40L -> 41L, 1L -> 42L)                     // 40, 41 and 42 reach no landmark
    val edges = chain ++ diamond ++ cycle ++ lmToLm ++ dead
    val lms = Seq(1L, 30L)
    val got = GraphOps.landmarkHops(edges.toDF("s", "o"), lms.toDF("lm")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = ShortestPaths.run(graph(edges), lms).vertices.collect().toSeq
      .flatMap { case (v, m) => m.map { case (lm, d) => (v, lm, d.toLong) } }.toSet
    assert(got == want)
    assert(got.contains((10L, 1L, 2L)), "the diamond keeps its shorter path")
    assert(!got.exists(r => Set(40L, 41L, 42L)(r._1)))
  }

  test("triangle counts equal GraphX triangleCount") {
    import spark.implicits._
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val sharing = Seq(4L -> 5L, 4L -> 6L, 5L -> 6L)          // shares vertex 4 with K4
    val lone = Seq(7L -> 8L)
    val pairs = k4 ++ sharing ++ lone
    val got = GraphOps.triangleCounts(pairs.toDF("i", "j")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graph(pairs).triangleCount().vertices.filter(_._2 > 0).collect()
      .map { case (v, n) => v -> n.toLong }.toMap
    assert(got == want)
    assert(got(4L) == 4L && !got.contains(7L))
  }

  test("graphx_sssp collects nothing to the driver while it builds") {
    // under AQE a collect's jobs carry no GraphOps call site, so count
    // the Dataset actions: the only collect is this test's own
    val (rows, actions) = sqlActionsDuring(GraphOps.graphxSssp(spark, sf0001).collect())
    assert(rows.nonEmpty)
    assert(actions.count(_._1 == "collect") == 1, actions.map(_._1))
  }
}
