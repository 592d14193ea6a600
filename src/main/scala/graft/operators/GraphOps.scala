package graft.operators

import graft.{Fixpoint, Sizing}
import graft.store.Dict
import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics on the triple view and the embedding near-dup graph.
  * Only connected components and PageRank run on GraphX, over
  * [[buildGraph]] (BASELINE.json: "GraphX for analytics queries"), whose
  * [[graft.store.Dict.encode]] vertex ids are dense and sorted, so a
  * component's min vertex id is its lexicographically smallest term, a
  * cross-engine-checkable label. The rest run as dataflow: degrees and
  * triangles as joins and group-bys, landmark shortest paths as a BFS
  * on [[graft.Fixpoint.iterate]], label propagation as a fixed loop.
  */
object GraphOps {

  /** (vertices (term,id), edges (src,dst,pred)) from the triple view.
    *
    * Partition sizing: iterative GraphX jobs (Pregel) pay per-partition
    * shuffle/task overhead EVERY iteration, so the graph RDDs are
    * coalesced to ~1M edges per partition (capped at the cluster's
    * parallelism). A tiny graph collapses to one partition and the
    * 10-iteration PageRank runs as 10 cheap tasks; a 100 TB triple set
    * still fans out to full parallelism.
    */
  def buildGraph(s: SparkSession, d: String): (DataFrame, XGraph[String, String]) = {
    import s.implicits._
    val t = RdfOps.tripleView(s, d).cache()
    val terms = t.select($"s".as("term")).union(t.select($"o".as("term")))
    val dict = Dict.encode(terms, Seq("term")).cache()
    val edges = t
      .join(dict.toDF("term", "sid"), $"s" === $"term").drop("term")
      .join(dict.toDF("term", "oid"), $"o" === $"term").drop("term")
      .select($"sid", $"oid", $"p")
    // |edges| == |triples|: count the CACHED view, not `edges`, which
    // would execute the dict joins once for the count and again when
    // the RDD materializes
    val nEdges = t.count()
    val parts = Sizing.parts(s, "graph edges", nEdges, 1000000L)
    val vRdd = dict.select($"id", $"term").as[(Long, String)].rdd.coalesce(parts)
    val eRdd = edges.select($"sid", $"oid", $"p").as[(Long, Long, String)].rdd
      .map { case (a, b, p) => Edge(a, b, p) }.coalesce(parts)
    (dict, XGraph(vRdd, eRdd))
  }

  /** Vertex degrees: one group-by over both term positions of the
    * triple view, the same count its oracle runs. */
  def graphxDegrees(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = RdfOps.tripleView(s, d)
    t.select($"s".as("term")).union(t.select($"o".as("term")))
      .groupBy($"term").agg(count(lit(1)).as("degree")).orderBy($"term")
  }
  val graphxDegreesSql: String =
    s"""${RdfOps.tripleViewSql}
       |SELECT term, count(*) AS degree
       |FROM (SELECT s AS term FROM t UNION ALL SELECT o FROM t) u
       |GROUP BY term ORDER BY term""".stripMargin

  /** Connected components: GraphX result labeled by the smallest term
    * of each component — deterministic because dict ids are
    * sorted-dense, so GraphX's min-vertex-id label IS the
    * lexicographically smallest term. Oracle: reachability closure via
    * a recursive CTE + min per source. */
  def graphxCc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dict, g) = buildGraph(s, d)
    val cc = s.createDataFrame(g.connectedComponents().vertices.map(x => (x._1, x._2)))
      .toDF("id", "comp_id")
    cc.join(dict.toDF("term", "id"), "id")
      .join(dict.toDF("comp_term", "comp_id"), "comp_id")
      .select($"term", $"comp_term")
      .orderBy($"term")
  }

  val graphxCcSql: String = {
    val recursiveView = RdfOps.tripleViewSql.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")
    s"""$recursiveView,
       |e AS (SELECT s a, o b FROM t UNION SELECT o, s FROM t),
       |reach(x, y) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT r.x, e.b FROM reach r JOIN e ON r.y = e.a)
       |SELECT x AS term, min(y) AS comp_term FROM reach GROUP BY x
       |ORDER BY term""".stripMargin
  }

  /** PageRank, 10 static iterations. Oracle-exact despite being
    * float-iterative: both engines run the SAME fixed recurrence —
    * rank₀=1, rankₖ₊₁(v) = 0.15 + 0.85·Σ_{u→v} rankₖ(u)/outdeg(u),
    * final ranks scaled so Σrank = |V| (GraphX's SPARK-18847
    * normalization) — and a 6-decimal round absorbs the ≤1-ulp
    * summation-order wobble. The DuckDB side is a recursive CTE with
    * an iteration counter ([[graphxPagerankSql]]). */
  def graphxPagerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dict, g) = buildGraph(s, d)
    val pr = s.createDataFrame(g.staticPageRank(10).vertices.map(x => (x._1, x._2)))
      .toDF("id", "rank")
    dict.join(pr, "id")
      .select($"term", round($"rank", 6).as("rank_r"))
      .orderBy($"rank_r".desc, $"term")
      .limit(20)
  }

  /** The same 10-iteration recurrence as GraphX's staticPageRank, as a
    * DuckDB recursive CTE. Zero-weight self-loop sentinels keep every
    * vertex present each iteration (a vertex with no real in-edges gets
    * 0.15 + 0.85·0, GraphX's `msgSum.getOrElse(0.0)` case); parallel
    * edges each contribute, matching aggregateMessages over the
    * multigraph; the final scan rescales by |V|/Σrank exactly like
    * GraphX's normalizeRankSum. */
  val graphxPagerankSql: String = {
    val recursiveView = RdfOps.tripleViewSql.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")
    s"""$recursiveView,
       |verts AS (SELECT DISTINCT term
       |  FROM (SELECT s AS term FROM t UNION ALL SELECT o FROM t) u),
       |od AS (SELECT s AS src, count(*) AS deg FROM t GROUP BY s),
       |edges2 AS (
       |  SELECT t.s AS src, t.o AS dst, 1.0/od.deg AS w
       |    FROM t JOIN od ON od.src = t.s
       |  UNION ALL
       |  SELECT term, term, 0.0 FROM verts),
       |pr(iter, term, rank) AS (
       |  SELECT 0, term, CAST(1.0 AS DOUBLE) FROM verts
       |  UNION ALL
       |  SELECT pr.iter + 1, e.dst, CAST(0.15 + 0.85 * sum(pr.rank * e.w) AS DOUBLE)
       |  FROM pr JOIN edges2 e ON e.src = pr.term
       |  WHERE pr.iter < 10
       |  GROUP BY pr.iter, e.dst),
       |fin AS (SELECT term, rank FROM pr WHERE iter = 10),
       |tot AS (SELECT sum(rank) AS s, count(*) AS n FROM fin)
       |SELECT term, round(rank * tot.n / tot.s, 6) AS rank_r
       |FROM fin, tot
       |ORDER BY rank_r DESC, term
       |LIMIT 20""".stripMargin
  }

  /** Per-vertex triangle counts over the embedding near-dup graph
    * ([[DedupOps.dedupEmbeddingCosine]] pairs as undirected edges) —
    * triangle density is the standard cohesion measure on a similarity
    * graph (a pair inside a triangle is corroborated by a third
    * neighbor; an isolated pair is not). The RDF triple view is
    * tripartite (customer→nation→region) and has NO triangles, so the
    * similarity graph is the one with signal. [[triangleCounts]] runs
    * the DuckDB oracle's exact 3-way edge self-join, hash-checked. */
  def graphxTriangles(s: SparkSession, d: String): DataFrame =
    triangleCounts(DedupOps.dedupEmbeddingCosine(s, d)).orderBy(col("vec_id"))

  /** (vec_id, n_tri) for every vertex in at least one triangle of a
    * canonical edge set (two id columns, first < second, distinct).
    * Each triangle x < y < z is found once, as (x, y) ⋈ (y, z) ⋈ (x, z),
    * and counted at each of its 3 vertices. */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("x", "y")
    e.join(e.toDF("y", "z"), "y").join(e.toDF("x", "z"), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_tri"))
  }
  val graphxTrianglesSql: String =
    """WITH und AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |v AS (SELECT x AS vec_id FROM tri
      |      UNION ALL SELECT y FROM tri
      |      UNION ALL SELECT z FROM tri)
      |SELECT vec_id, count(*) AS n_tri FROM v
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Landmark shortest paths: directed hop distance from every vertex
    * to each region landmark (the `in_region` objects) along the view's
    * edges, by [[landmarkHops]]. Exact integer hops, so the DuckDB oracle
    * is a recursive-CTE BFS, hash-checked. */
  def graphxSssp(s: SparkSession, d: String): DataFrame = {
    val t = RdfOps.tripleView(s, d)
    val lms = t.filter(col("p") === "in_region").select(col("o")).distinct()
    landmarkHops(t, lms).orderBy(col("term"), col("landmark"))
  }

  /** (term, landmark, dist) for every vertex that reaches one of the
    * `landmarks` (one term column) along the directed (s, o) `edges`: a
    * BFS on [[graft.Fixpoint.iterate]] from (lm, lm, 0) whose rounds step
    * back over the edges with `o = term` and drop the (term, landmark)
    * pairs an earlier round reached, so a pair's first round is its
    * minimum distance. The edges are a lazy checkpoint, built once. */
  private[graft] def landmarkHops(edges: DataFrame, landmarks: DataFrame): DataFrame = {
    val e = edges.select(col("s"), col("o").as("term")).localCheckpoint(false)
    val seed = landmarks.toDF("lm")
      .select(col("lm").as("term"), col("lm").as("landmark"), lit(0L).as("dist"))
    Fixpoint.iterate(seed, Int.MaxValue, Long.MaxValue) { (all, frontier) =>
      frontier.join(e, "term")
        .select(col("s").as("term"), col("landmark"), (col("dist") + 1).as("dist")).distinct()
        .join(all, Seq("term", "landmark"), "left_anti")
    }
  }
  val graphxSsspSql: String = {
    val recursiveView = RdfOps.tripleViewSql.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")
    s"""$recursiveView,
       |lms AS (SELECT DISTINCT o AS lm FROM t WHERE p = 'in_region'),
       |reach(term, lm, dist) AS (
       |  SELECT lm, lm, 0 FROM lms
       |  UNION
       |  SELECT t.s, r.lm, r.dist + 1
       |  FROM reach r JOIN t ON t.o = r.term
       |  WHERE r.dist < 8)
       |SELECT term, lm AS landmark, CAST(min(dist) AS BIGINT) AS dist
       |FROM reach GROUP BY term, lm
       |ORDER BY term, landmark""".stripMargin
  }

  /** Rounds for [[graphxLabelProp]] — FIXED, like the pagerank
    * iteration count and the kmeans Lloyd rounds: a convergence loop
    * would make the result depend on float/iteration-order details,
    * while a fixed unrolled count is replayable as SQL CTEs. */
  val LpaRounds = 3

  /** Synchronous majority label propagation over the embedding
    * near-dup graph — community detection that, unlike
    * [[graphxCc]]/[[DedupOps.dedupEmbeddingClusters]], separates
    * DENSELY linked groups instead of merging everything reachable:
    * the near-dup graph's long thin chains (A~B~C where A!~C) collapse
    * to one connected component but to several LPA communities, which
    * is the granularity semantic-dedup keep-one actually wants when a
    * chain drifts topically. Votes are neighbor labels only; the
    * winner is (count DESC, label ASC) — a total order, so the
    * [[LpaRounds]]-round sync state is deterministic and DuckDB
    * replays it CTE-for-CTE. Isolated vectors keep their own label.
    *
    * Shape: each round is one edge⋈label equi-join + two aggregations
    * — 2 shuffles per round over the PAIR graph (dup-volume-sized,
    * not corpus-sized; the brute pair source is the documented
    * baseline with [[DedupOps.dedupEmbeddingLsh]] as the bucketed
    * scale path). A DataFrame loop, not Pregel: 3 unrolled sync
    * rounds need no vertex-program state machine, and each round's
    * aggregate partial-aggregates map-side like any groupBy. */
  def graphxLabelProp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.Tables.embeddings
    val pairs = DedupOps.dedupEmbeddingCosine(s, d).toDF("a", "b")
    val e = pairs.union(pairs.select($"b", $"a")).toDF("v", "n").cache()
    var lbl = embeddings(s, d)
      .select($"vec_id".as("v"), $"vec_id".cast("long").as("lbl"))
    for (_ <- 1 to LpaRounds) {
      val votes = e.join(lbl.toDF("n", "nl"), "n")
        .groupBy($"v", $"nl").agg(count(lit(1)).as("c"))
        .groupBy($"v").agg(min_by($"nl", struct(-$"c", $"nl")).as("new_lbl"))
      lbl = lbl.join(votes, Seq("v"), "left")
        .select($"v", coalesce($"new_lbl", $"lbl").as("lbl"))
    }
    lbl.select($"v".as("vec_id"), $"lbl".as("community")).orderBy($"vec_id")
  }
  val graphxLabelPropSql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""v$r AS (SELECT e.v, l.lbl AS nl, count(*) AS c
         |        FROM e JOIN l${r - 1} l ON l.v = e.n GROUP BY 1, 2),
         |b$r AS (SELECT v, nl,
         |          row_number() OVER (PARTITION BY v ORDER BY c DESC, nl) AS rn
         |        FROM v$r),
         |l$r AS (SELECT l.v, COALESCE(b.nl, l.lbl) AS lbl
         |        FROM l${r - 1} l LEFT JOIN
         |          (SELECT v, nl FROM b$r WHERE rn = 1) b USING (v))""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4),
       |e AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT vec_id AS v, CAST(vec_id AS BIGINT) AS lbl FROM embeddings),
       |$rounds
       |SELECT v AS vec_id, lbl AS community FROM l$LpaRounds ORDER BY vec_id""".stripMargin
  }
}
