package graft.operators

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame

/** [[DedupOps.pairClusterCanonical]] (min-label propagation on
  * `Fixpoint.iterate`) against GraphX's `connectedComponents`, which
  * labels every vertex with its component's min id, plus the cache
  * contract of the pipeline that clusters inline. */
class ClusterCanonicalSpec extends SparkSpec {

  private def labels(pairs: DataFrame): Map[Long, Long] =
    DedupOps.pairClusterCanonical(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def graphxLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = spark.sparkContext.parallelize(pairs.map { case (a, b) => Edge(a, b, ()) })
    Graph.fromEdges(edges, ()).connectedComponents().vertices.collect().toMap
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("dedup pair sets cluster exactly as GraphX connected components") {
    import spark.implicits._
    Seq(
      "dedup_clusters" -> DedupOps.dedupNgramJaccard(spark, sf0001).select($"da", $"db"),
      "dedup_embedding_clusters" -> DedupOps.dedupEmbeddingLsh(spark, sf0001)
        .select($"i".as("da"), $"j".as("db"))
    ).foreach { case (name, df) =>
      val pairs = pairsOf(df)
      assert(pairs.nonEmpty, s"$name: no pairs at sf0.001")
      assert(labels(pairs.toDF("da", "db")) == graphxLabels(pairs), name)
    }
    DedupOps.releaseCaches()
  }

  test("a chain, a star, a cycle and disjoint pairs: GraphX labels within diameter rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(39L)
    val ids = rnd.shuffle((1L to 1000L).toVector)
    def flip(p: (Long, Long)) = if (rnd.nextBoolean()) p else p.swap
    val chain = ids.take(40).sliding(2).map(w => flip((w(0), w(1)))).toSeq // diameter 39
    val star = ids.slice(40, 51).tail.map(leaf => flip((ids(40), leaf)))
    val cycle = Seq((ids(51), ids(52)), (ids(52), ids(53)), (ids(53), ids(51)))
    val disjoint = ids.slice(54, 64).grouped(2).map(w => flip((w(0), w(1)))).toSeq
    val pairs = rnd.shuffle(chain ++ star ++ cycle ++ disjoint)
    val (cc, jobs) = jobsDuring(DedupOps.pairClusterCanonical(pairs.toDF("da", "db")))
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == graphxLabels(pairs))
    // one count per round, the seed's and the final empty round's included
    val rounds = jobs.count(_.startsWith("count at Fixpoint.scala")) - 1
    assert(rounds > 1 && rounds <= 39, s"$rounds non-empty rounds on a diameter-39 chain")
  }

  test("doc_pipeline_e2e leaves no cached plan once DedupOps releases its caches") {
    spark.catalog.clearCache()
    DedupOps.releaseCaches()
    CurationOps.docPipelineE2e(spark, sf0001).collect()
    DedupOps.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
