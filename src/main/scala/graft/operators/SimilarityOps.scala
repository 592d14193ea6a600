package graft.operators

import graft.Tables._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-d float
  * vectors).
  *
  * Brute-force top-k is the correctness baseline (and is exactly what
  * a 100 TB engine runs per-bucket after partition pruning); the LSH
  * variant is the scale path: random-hyperplane signatures bucket the
  * vectors so each query probes one bucket instead of the full table —
  * the crossJoin becomes a bucket-equi-join that shuffles each vector
  * once.
  */
object SimilarityOps {

  /** Brute-force cosine top-3 for query vectors vec_id < 5 (native
    * [[graft.functions.CosineSim]] kernel in the inner loop). */
  def simTopkBrute(s: SparkSession, d: String): DataFrame =
    simTopkBruteWhere(s, d)

  /** The brute top-3 harness with the CANDIDATE side narrowable — one
    * definition of the truth contract (query cut vec_id < 5,
    * self-exclusion, cosine, rank ≤ 3 with ties to the lower nid) for
    * both the full-corpus baseline and predicate-scoped truths
    * ([[MlOps]]' filtered-ANN meters). `candFilter` sees the full
    * embeddings frame (so label-style payload columns are available)
    * and must preserve vec_id + embedding. */
  private[operators] def simTopkBruteWhere(s: SparkSession, d: String,
      candFilter: DataFrame => DataFrame = identity): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("va"))
    val c = candFilter(e).select($"vec_id".as("nid"), $"embedding".as("vb"))
    val scored = q.crossJoin(c).filter($"qid" =!= $"nid")
      .select($"qid", $"nid", GraftFunctions.column("cosine_sim", $"va", $"vb").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }
  /** Hard-NEGATIVE mining for contrastive training — the sampling
    * table a retriever/embedder fine-tune reads: per anchor, the top-3
    * most-similar vectors that are NOT near-duplicates. The most
    * informative negatives sit closest to the decision boundary, but
    * sampling an unflagged DUPLICATE as a negative poisons the loss
    * (it is secretly a positive) — so the positive screen is the
    * hyperplane-LSH bucket collision ([[DedupOps.dedupEmbeddingLsh]]'s
    * banding, ONE shared definition on both engines), applied as a
    * left-anti join before the ranking. `n_dup_excluded` reports how
    * many candidates the screen removed per anchor — the liveness
    * meter for the screen itself. Anchors are eval-sized, so the
    * brute ranking is corpus-linear (the family's labeled-baseline
    * shape); at 100 TB the ranking side swaps in the probed IVF scan
    * exactly as `sim_ann_ivf` does, the screen staying a banded
    * equi-join. */
  def simHardNegatives(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val banded = embeddings(s, d)
      .select($"vec_id",
        posexplode(GraftFunctions.column("hyperplane_sig", $"embedding", lit(16), lit(4)))
          .as(Seq("band", "key")))
    val dup = banded.filter($"vec_id" < 5).toDF("qid", "band", "key")
      .join(banded.toDF("nid", "band", "key"), Seq("band", "key"))
      .filter($"qid" =!= $"nid")
      .select($"qid", $"nid").distinct()
    val nd = dup.groupBy($"qid").agg(count(lit(1)).as("n_dup_excluded"))
    val e = embeddings(s, d).select($"vec_id", $"embedding")
    val scored = e.filter($"vec_id" < 5).toDF("qid", "va")
      .crossJoin(e.toDF("nid", "vb")).filter($"qid" =!= $"nid")
      .join(dup, Seq("qid", "nid"), "left_anti")
      .select($"qid", $"nid", GraftFunctions.column("cosine_sim", $"va", $"vb").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .join(nd, Seq("qid"), "left")
      .select($"qid", $"rank", $"nid",
        coalesce($"n_dup_excluded", lit(0L)).as("n_dup_excluded"))
      .orderBy($"qid", $"rank")
  }
  lazy val simHardNegativesSql: String =
    s"""WITH ${DedupOps.embLshBandCtes},
      |qdup AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
      |           AND a.vec_id <> b.vec_id
      |         WHERE a.vec_id < 5),
      |nd AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_dup_excluded
      |       FROM qdup GROUP BY qid),
      |scored AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    list_cosine_similarity(a.v, b.v) AS cos
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 5
      |    AND NOT EXISTS (SELECT 1 FROM qdup d
      |                    WHERE d.qid = a.vec_id AND d.nid = b.vec_id)),
      |ranked AS (
      |  SELECT qid, nid,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      |  FROM scored)
      |SELECT r.qid, CAST(r.rank AS BIGINT) AS rank, r.nid,
      |  CAST(COALESCE(n.n_dup_excluded, 0) AS BIGINT) AS n_dup_excluded
      |FROM ranked r LEFT JOIN nd n USING (qid)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** [[simTopkBruteWhere]]'s oracle as a builder: `candWhere` (an
    * `AND …` clause over alias `b`) narrows the candidate side. */
  private[operators] def simTopkBruteSqlWhere(candWhere: String): String =
    s"""WITH e AS (
      |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v, label
      |  FROM embeddings),
      |scored AS (
      |  -- cosine on DOUBLE lists mirrors Spark's double accumulation
      |  -- over exactly-widened floats; FLOAT[] cosine can rank
      |  -- near-equal neighbors differently and flip the top-3
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    list_cosine_similarity(a.v, b.v) AS cos
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 5$candWhere),
      |ranked AS (
      |  SELECT qid, nid,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      |  FROM scored)
      |SELECT qid, rank, nid FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin
  val simTopkBruteSql: String = simTopkBruteSqlWhere("")

  /** Deterministic ±1 hyperplanes, md5-derived so any engine can
    * recompute them (round-2 verdict #1) — the shared
    * [[graft.functions.Md5Bits.planeSigns]] contract, computed at
    * plan-build time on the driver; the DuckDB oracle recomputes the
    * identical signs in SQL. */
  private def planeSigns(nPlanes: Int, dim: Int): Array[Array[Int]] =
    graft.functions.Md5Bits.planeSigns(nPlanes, dim)

  /** LSH-bucketed ANN: 4-bit random-hyperplane signature (16 buckets
    * over the 500-vector test table; at 100 TB the plane count scales
    * with log2(rows/target-bucket-size)) → bucket;
    * top-3 within the query's bucket. The sign family is md5-derived
    * and the dot product accumulates doubles in index order, so the
    * whole pipeline is reproducible in DuckDB → hash-checked.
    * SimilaritySpec additionally pins recall against the brute-force
    * baseline. */
  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPlanes = 4
    val signs = planeSigns(nPlanes, 64)
    val sigCols = (0 until nPlanes).map { i =>
      val arr = s"array(${signs(i).mkString(", ")})"
      when(expr(
        s"aggregate(zip_with(v, $arr, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") > 0,
        lit(1L << i)).otherwise(lit(0L))
    }
    val e = embeddings(s, d).select($"vec_id",
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("bucket", sigCols.reduce(_ + _))
      .cache()
    val q = e.filter($"vec_id" < 5).toDF("qid", "va", "bucket")
    val c = e.toDF("nid", "vb", "bucket")
    val scored = q.join(c, "bucket").filter($"qid" =!= $"nid")
      .select($"qid", $"nid", GraftFunctions.column("cosine_sim", $"va", $"vb").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }
  /** DuckDB replica: identical md5-sign planes, bucket assignment, and
    * in-bucket cosine top-3. */
  val simAnnLshSql: String =
    """WITH pl AS (SELECT i,
      |    [CASE WHEN strpos('89abcdef', substr(md5('p_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) > 0
      |          THEN 1 ELSE -1 END for j in range(0,64)] AS sg
      |  FROM range(0,4) t(i)),
      |e AS (SELECT vec_id, embedding, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
      |bk AS (SELECT e.vec_id, first(e.v) AS v,
      |         CAST(sum(CASE WHEN list_sum([e.v[j+1] * pl.sg[j+1] for j in range(0,64)]) > 0
      |                       THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM e, pl GROUP BY e.vec_id),
      |-- cosine on the DOUBLE lists (not raw FLOAT[]) so ranking ties
      |-- break identically to Spark's double accumulation
      |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
      |             list_cosine_similarity(a.v, b.v) AS cos
      |           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |           WHERE a.vec_id < 5),
      |ranked AS (SELECT qid, nid,
      |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      |           FROM scored)
      |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Per-vector statistics through Spark's HIGHER-ORDER functions
    * (`transform`/`filter`/`aggregate`/`array_max`) — all codegen'd
    * array lambdas, zero UDFs, one map-side pass over the embedding
    * column. Every float promotes to double BEFORE arithmetic on both
    * engines so the left-fold sums are IEEE-identical; the 6-decimal
    * round guards the one op whose order isn't contractual
    * (list_sum). */
  def simVectorStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d).select($"vec_id",
        size($"embedding").cast("long").as("n_dims"),
        round(sqrt(expr(
          """aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)),
            |cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin)), 6).as("l2"),
        round(expr("array_max(transform(embedding, x -> abs(cast(x as double))))"), 6)
          .as("max_abs"),
        expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_pos"))
      .orderBy($"vec_id")
  }
  val simVectorStatsSql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  round(sqrt(list_sum(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
      |  round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6)
      |    AS max_abs,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** k-nearest-neighbor GRAPH (k = 3) over the whole embedding table —
    * the all-vectors generalization of [[simAnnLsh]]'s per-query probe,
    * and the substrate semantic-dedup clustering and diversity
    * sampling both consume. Each vector's neighbors come from its own
    * LSH bucket, so the all-pairs crossJoin becomes a bucket
    * equi-join: every vector shuffles ONCE on its 4-bit hyperplane
    * signature and pairs only within its bucket — sum over buckets of
    * |b|², corpus-linear for balanced buckets, vs n² brute force. At
    * 100 TB the plane count scales as log2(rows / target bucket size)
    * to hold |b| constant, and multi-probe (flipping the weakest sign
    * bit) recovers the recall a single probe loses; vectors in
    * singleton buckets simply emit fewer than k edges, which
    * downstream CC/diversity consumers treat as isolated. Signature,
    * tie-break (cos DESC, nid) and double-widened arithmetic are the
    * shared md5 contract, so the DuckDB oracle is value-exact. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPlanes = 4
    val signs = planeSigns(nPlanes, 64)
    val sigCols = (0 until nPlanes).map { i =>
      val arr = s"array(${signs(i).mkString(", ")})"
      when(expr(
        s"aggregate(zip_with(v, $arr, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") > 0,
        lit(1L << i)).otherwise(lit(0L))
    }
    val e = embeddings(s, d).select($"vec_id",
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("bucket", sigCols.reduce(_ + _))
      .cache()
    val a = e.toDF("qid", "va", "bucket")
    val b = e.toDF("nid", "vb", "bucket")
    val scored = a.join(b, "bucket").filter($"qid" =!= $"nid")
      .select($"qid", $"nid", GraftFunctions.column("cosine_sim", $"va", $"vb").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }
  /** DuckDB replica of the full kNN graph: identical md5-sign planes,
    * bucket assignment, in-bucket cosine and tie-break. */
  val simKnnGraphSql: String =
    """WITH pl AS (SELECT i,
      |    [CASE WHEN strpos('89abcdef', substr(md5('p_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) > 0
      |          THEN 1 ELSE -1 END for j in range(0,64)] AS sg
      |  FROM range(0,4) t(i)),
      |e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
      |bk AS (SELECT e.vec_id, first(e.v) AS v,
      |         CAST(sum(CASE WHEN list_sum([e.v[j+1] * pl.sg[j+1] for j in range(0,64)]) > 0
      |                       THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM e, pl GROUP BY e.vec_id),
      |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
      |             list_cosine_similarity(a.v, b.v) AS cos
      |           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      |ranked AS (SELECT qid, nid,
      |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      |           FROM scored)
      |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
}
