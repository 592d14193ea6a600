package graft.operators

import graft.Tables._
import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF ANN on the deterministic [[IvfKmeans]] quantizer (hash-checked
  * against a DuckDB replay of the identical fixed-round Lloyd fit —
  * round-8 verdict #3), plus the one remaining MLlib cross-check op
  * ([[dedupMinhashMl]], spec-only: model internals have no DuckDB
  * equivalent, so it is pinned against the exact operators in
  * MlOpsSpec instead of carrying a permanent no_oracle row).
  */
object MlOps {

  /** Shingle-set MinHashLSH near-dup pairs via approxSimilarityJoin
    * (JaccardDistance ≤ 0.5 ⇔ similarity ≥ 0.5, matching
    * dedup_ngram_jaccard's threshold). Spec-only cross-check of
    * [[DedupOps.dedupMinhashLsh]] — not registered as a driver query
    * (round-8 verdict #4). */
  def dedupMinhashMl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = documents(s, d)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", expr(
        """CASE WHEN size(ws) >= 3
          |THEN array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))
          |ELSE array() END""".stripMargin)
        .as("gs"))
    // sparse binary vectors over a hashed shingle space
    val dim = 1 << 18
    val toVec = udf { (gs: Seq[String]) =>
      val idx = gs.map(g => math.floorMod(g.hashCode, dim)).distinct.sorted.toArray
      Vectors.sparse(dim, idx, Array.fill(idx.length)(1.0))
    }
    val docs = sh.select($"doc_id", toVec($"gs").as("features")).cache()
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
      .fit(docs)
    model.approxSimilarityJoin(docs, docs, 0.5, "dist")
      .select(
        col("datasetA.doc_id").as("da"),
        col("datasetB.doc_id").as("db"))
      .filter($"da" < $"db")
      .distinct()
      .orderBy($"da", $"db")
  }

  /** IVF-style ANN: the [[IvfKmeans]] quantizer (k=16, fit once per
    * corpus — queries probe a prebuilt model, they don't train one)
    * partitions the vector space; each query probes its 2 nearest
    * centroids and ranks within those lists by exact cosine. At 100 TB
    * the lists are parquet partitions keyed by centroid id
    * ([[simAnnIvfIndex]] is that shape made literal) — a query touches
    * 2/16ths of the data. */
  def simAnnIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val cdf = IvfKmeans.centroidFrame(s, cents)
    // cached: scanned by the assignment and the probe side — without
    // it the parquet read + cast runs twice
    val e = IvfKmeans.withV(s, d).cache()
    // assignment is a map-side projection (IvfKmeans.assignCol): no
    // shuffle, no join-back to recover the vector
    val assigned = e
      .withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"list_id")
    probeAndScore(e, cdf, assigned)
  }

  /** Probe side shared by [[simAnnIvf]] and [[simAnnIvfIndex]]: the 2
    * nearest centroids per query vector (vec_id < 5), then exact
    * cosine top-3 within the probed lists. */
  private def probeAndScore(e: DataFrame, cdf: DataFrame, assigned: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val probes = IvfKmeans.withDists(e.filter($"vec_id" < 5), cdf)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
      .filter($"rn" <= 2)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"list_id")
    val scored = probes.join(assigned, "list_id")
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("nid"),
        expr("cosine_sim(qe, embedding)").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }

  /** The 100 TB shape of [[simAnnIvf]] made literal: the fitted index
    * IS list-partitioned parquet on disk (`list_id=<k>/` directories),
    * and a query reads ONLY its probed list partitions — Spark's
    * partition pruning turns the 2-of-16 probe into 2-of-16 I/O, which
    * is the entire point of IVF at scale. Build cost is paid once per
    * corpus; this op measures build + probe honestly in one call.
    * Same ranking contract as [[simAnnIvf]] (probe depth 2, exact
    * cosine within lists), and the same DuckDB oracle — the on-disk
    * layout must not change the answer. */
  def simAnnIvfIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val cdf = IvfKmeans.centroidFrame(s, cents)
    val e = IvfKmeans.withV(s, d).cache()

    // Index under the scratch root (Tables.scratch: shared storage on a
    // cluster). All I/O below goes through the Hadoop FS API, so any
    // supported scheme works unchanged.
    val dir = scratch(s, "ivf", java.util.UUID.randomUUID.toString)
    e.withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)

    // probe set resolved driver-side (k-entry centroid table, 2 list
    // ids per query — tiny by construction at any scale)
    val probes = IvfKmeans.withDists(e.filter($"vec_id" < 5), cdf)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
      .filter($"rn" <= 2)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"list_id")
      .cache()
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // partition-pruned scan: only the probed list_id directories are read
    val index = s.read.parquet(dir).filter($"list_id".isin(probedLists: _*))
    val scored = probes.join(index, "list_id")
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("nid"),
        expr("cosine_sim(qe, embedding)").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
    // Materialize the (queries × k — tiny by construction) result so
    // the index directory can be deleted before returning; otherwise
    // the caller would hold a lazy plan over files we remove here, and
    // repeated runs would leak one index tree per call.
    val res = graft.Tables.materializeAndRelease(out, e, probes)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    res
  }

  /** Product-quantization ANN (Jégou et al. 2011): unit-normalized
    * 64-d vectors split into M=8 8-d subspaces, each quantized by its
    * own deterministic [[IvfKmeans.pqCodebook]] (k=16, fit once per
    * corpus, disk-persisted) — so every vector compresses to 8
    * nibble-sized codes, a 32× reduction of what a 100 TB scan has to
    * touch. A query builds an 8×16 asymmetric-distance lookup table
    * (exact query subvector vs each codebook centroid) and every
    * candidate's approximate distance is 8 table lookups + 7 adds: the
    * scan side joins the BROADCAST lookup tables on its stored codes
    * and never touches the raw vectors. The unit normalization makes
    * squared L2 rank like cosine, so the ADC shortlist (top-64) feeds
    * a final exact-cosine rerank of queries×64 rows — the standard
    * two-stage PQ retrieval. The ADC sum is a fixed-order
    * d0+d1+...+d7 expression (not a groupBy sum) so both engines
    * accumulate identically, which is what lets the DuckDB replay
    * hash-match an approximate index. Ranking contract mirrors the
    * other ANN ops: top-3 per query (vec_id < 5), ties to the lower
    * neighbor id. */
  private[operators] val PqM = 8
  private[operators] val PqSubDim = 8
  private[operators] val PqRerank = 64

  def simAnnPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val e = IvfKmeans.withUnitV(s, d).cache()
    def sub(m: Int) = expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")
    val cbArrs = (0 until PqM).map(m => IvfKmeans.pqCodebook(s, d, m, PqSubDim))
    val cbs = cbArrs.map(IvfKmeans.centroidFrame(s, _))
    // encode: all M per-subspace nearest-codebook ids in ONE map-side
    // projection (IvfKmeans.assignCol — the codebooks are driver-side
    // literals, so the argmin is a per-row expression; the previous
    // M shuffled assignments + M−1 vec_id joins disappear)
    val codes = e.select($"vec_id" +: (0 until PqM).map(m =>
      IvfKmeans.assignCol(s, cbArrs(m), sub(m)).as(s"code$m")): _*)
    // ADC lookup tables: (query, code) -> exact partial squared
    // distance; 5 queries x 16 codes per subspace — broadcast-sized
    // by construction at any corpus size
    val luts = (0 until PqM).map { m =>
      IvfKmeans.withDists(
          e.filter($"vec_id" < 5).select($"vec_id".as("qid"), sub(m).as("v")),
          cbs(m))
        .select($"qid", col("list_id").as(s"code$m"), $"dist".as(s"d$m"))
    }
    val withD = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, m)) =>
      acc.join(broadcast(lut),
        if (m == 0) Seq(s"code$m") else Seq("qid", s"code$m"))
    }
    val scored = withD.filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("nid"),
        (0 until PqM).map(m => col(s"d$m")).reduce(_ + _).as("adc"))
    // ADC shortlist (top-R), then exact-cosine rerank of R candidates —
    // the standard two-stage PQ retrieval: the scan side touches only
    // codes, the exact kernel runs on queries x R rows
    val wAdc = Window.partitionBy($"qid").orderBy($"adc", $"nid")
    val shortlist = scored.withColumn("arn", row_number().over(wAdc))
      .filter($"arn" <= PqRerank)
      .select($"qid", $"nid")
    val reranked = shortlist
      .join(e.select($"vec_id".as("qid"), $"embedding".as("qe")), "qid")
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .select($"qid", $"nid", expr("cosine_sim(qe, ne)").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    reranked.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }

  /** DuckDB replay of the full PQ pipeline: unit normalization,
    * per-subspace sliced embeddings, the same unrolled deterministic
    * Lloyd fit as [[ivfOracleSql]] (suffixed CTEs per subspace), code
    * assignment, ADC lookup join with a fixed-order M-term distance
    * sum, top-64 shortlist, exact-cosine rerank, top-3. */
  /** Per-subspace DuckDB fit replay shared by [[pqOracleSql]] and
    * [[ivfPqOracleSql]]: for each subspace m, slices `emb` (which the
    * caller must define as the UNIT-NORMALIZED vectors — both callers
    * do), replays the deterministic Lloyd fit (suffixed CTEs), and
    * emits `af_$m` (per-vector code) + `lut_$m` (per-query ADC lookup
    * table). One codebook definition feeding both oracles, so the
    * plain-PQ and IVF+PQ replays can never drift. */
  private lazy val pqSubCtes: String = {
    val M = PqM; val SubDim = PqSubDim; val K = IvfKmeans.K; val R = IvfKmeans.Rounds
    def assignSelect(m: Int, cfrom: String, where: String, rnBound: Int): String =
      s"""  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_sum(list_transform(list_zip(e.v, c.c),
         |                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.list_id) AS rn
         |    FROM emb_$m e CROSS JOIN $cfrom c$where) z
         |  WHERE rn <= $rnBound""".stripMargin
    (0 until M).map { m =>
      val lo = m * SubDim + 1; val hi = (m + 1) * SubDim
      val rounds = (1 to R).map { r =>
        s"""a${r}_$m AS MATERIALIZED (
           |${assignSelect(m, s"c${r - 1}_$m", "", 1)}),
           |m${r}_$m AS MATERIALIZED (
           |  SELECT list_id, i, round(avg(x), 6) AS cx FROM (
           |    SELECT a.list_id, generate_subscripts(e.v, 1) AS i, unnest(e.v) AS x
           |    FROM a${r}_$m a JOIN emb_$m e USING (vec_id)) z
           |  GROUP BY list_id, i),
           |c${r}_$m AS MATERIALIZED (
           |  SELECT p.list_id, COALESCE(n.c, p.c) AS c
           |  FROM c${r - 1}_$m p LEFT JOIN
           |    (SELECT list_id, list(cx ORDER BY i) AS c FROM m${r}_$m GROUP BY list_id) n
           |  USING (list_id))""".stripMargin
      }.mkString(",\n")
      s"""emb_$m AS MATERIALIZED (
         |  SELECT vec_id, v[$lo:$hi] AS v FROM emb),
         |c0_$m AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
         |         v AS c
         |  FROM (SELECT vec_id, v FROM emb_$m
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $K) s),
         |$rounds,
         |af_$m AS MATERIALIZED (
         |${assignSelect(m, s"c${R}_$m", "", 1)}),
         |lut_$m AS MATERIALIZED (
         |  SELECT q.vec_id AS qid, c.list_id AS code$m,
         |    list_sum(list_transform(list_zip(q.v, c.c),
         |             p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$m
         |  FROM emb_$m q CROSS JOIN c${R}_$m c WHERE q.vec_id < 5)""".stripMargin
    }.mkString(",\n")
  }

  /** The unit-normalization CASE shared by the PQ-family oracles —
    * identical text to the Spark-side [[IvfKmeans.withUnitV]] math. */
  private val unitNormCase: String =
    """CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) > 0
      |      THEN list_transform(v, x -> x / sqrt(list_sum(list_transform(v, x -> x * x))))
      |      ELSE v END""".stripMargin

  lazy val pqOracleSql: String = {
    val M = PqM
    val perSub = pqSubCtes
    val codeCols = (0 until M).map(m => s"a$m.list_id AS code$m").mkString(", ")
    val codeJoins = (1 until M)
      .map(m => s"JOIN af_$m a$m USING (vec_id)").mkString(" ")
    val lutJoins = (1 until M)
      .map(m => s"JOIN lut_$m l$m ON l$m.qid = l0.qid AND l$m.code$m = codes.code$m")
      .mkString("\n  ")
    val adcSum = (0 until M).map(m => s"l$m.d$m").mkString(" + ")
    s"""WITH raw AS MATERIALIZED (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |emb AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) > 0
       |      THEN list_transform(v, x -> x / sqrt(list_sum(list_transform(v, x -> x * x))))
       |      ELSE v END AS v
       |  FROM raw),
       |$perSub,
       |codes AS MATERIALIZED (
       |  SELECT a0.vec_id, $codeCols
       |  FROM af_0 a0 $codeJoins),
       |scored AS MATERIALIZED (
       |  SELECT l0.qid, codes.vec_id AS nid,
       |    $adcSum AS adc
       |  FROM codes
       |  JOIN lut_0 l0 ON l0.code0 = codes.code0
       |  $lutJoins
       |  WHERE l0.qid <> codes.vec_id),
       |shortlist AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS arn
       |    FROM scored) z
       |  WHERE arn <= $PqRerank),
       |reranked AS MATERIALIZED (
       |  SELECT s.qid, s.nid, list_cosine_similarity(q.v, n.v) AS cos
       |  FROM shortlist s
       |  JOIN raw q ON q.vec_id = s.qid
       |  JOIN raw n ON n.vec_id = s.nid)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM reranked) z
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** Probe depth of [[simAnnIvfPq]]'s coarse quantizer — same
    * 2-of-16 bargain as [[simAnnIvf]]. */
  private[operators] val IvfPqProbes = 2

  /** IVF+PQ composed ANN — the production index shape (FAISS
    * `IndexIVFPQ` with `by_residual=false`; Jégou et al. 2011 §IV):
    * a COARSE quantizer buckets the vector space so a query touches
    * only its [[IvfPqProbes]]-of-[[IvfKmeans.K]] probed lists
    * (I/O pruning — at 100 TB the lists are parquet partitions, see
    * [[simAnnIvfIndex]]), and within the probed lists candidates are
    * scored by PQ asymmetric distance over their stored
    * [[PqM]]-nibble codes (compute + memory pruning — the scan never
    * touches raw vectors). Both prunings compose multiplicatively:
    * 2/16ths of the corpus read × 32× smaller per row. The two model
    * artifacts are both deterministic persisted fits — the coarse
    * centroids under their own tag (fit on the SAME unit-normalized
    * vectors PQ encodes, so L2 ranks like cosine end-to-end) and the
    * SAME [[IvfKmeans.pqCodebook]] subspace codebooks [[simAnnPq]]
    * uses (one codebook definition repo-wide). Retrieval contract
    * mirrors the ANN family: ADC shortlist top-[[PqRerank]] within
    * probed lists, exact-cosine rerank, top-3 per query (vec_id < 5),
    * ties to the lower neighbor id. */
  def simAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val e = IvfKmeans.withUnitV(s, d).cache()
    def sub(m: Int) = expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")
    // coarse quantizer: persisted deterministic fit on the unit vectors
    val coarseArr = IvfKmeans.centroidsFor(s, d, "ivfpq",
      e.select($"vec_id", $"v"), fpTable = "embeddings")
    val coarseCdf = IvfKmeans.centroidFrame(s, coarseArr)
    // PQ codes: the same per-subspace codebooks as simAnnPq. The
    // coarse list AND all M codes are ONE map-side projection
    // (IvfKmeans.assignCol) — the index encode never shuffles
    val cbArrs = (0 until PqM).map(m => IvfKmeans.pqCodebook(s, d, m, PqSubDim))
    val cbs = cbArrs.map(IvfKmeans.centroidFrame(s, _))
    val codes = e.select(
      ($"vec_id" +: IvfKmeans.assignCol(s, coarseArr, $"v").as("list_id") +:
        (0 until PqM).map(m =>
          IvfKmeans.assignCol(s, cbArrs(m), sub(m)).as(s"code$m"))): _*)
    // probe: IvfPqProbes nearest coarse lists per query — the only
    // rows that ever leave the index scan are from probed lists
    val probes = IvfKmeans.withDists(e.filter($"vec_id" < 5), coarseCdf)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
      .filter($"rn" <= IvfPqProbes)
      .select($"vec_id".as("qid"), $"list_id")
    // ADC lookup tables (queries × 16 per subspace — broadcast-sized
    // by construction at any corpus size)
    val luts = (0 until PqM).map { m =>
      IvfKmeans.withDists(
          e.filter($"vec_id" < 5).select($"vec_id".as("qid"), sub(m).as("v")),
          cbs(m))
        .select($"qid", col("list_id").as(s"code$m"), $"dist".as(s"d$m"))
    }
    // candidates restricted to probed lists, then 8 lookups + 7 adds
    // per candidate; a candidate appears via exactly one coarse list
    // (1-NN assignment), so the probe join cannot duplicate rows
    val cands = probes.join(codes, "list_id").filter($"qid" =!= $"vec_id")
    val withD = luts.zipWithIndex.foldLeft(cands) { case (acc, (lut, m)) =>
      acc.join(broadcast(lut), Seq("qid", s"code$m"))
    }
    val scored = withD.select($"qid", $"vec_id".as("nid"),
      (0 until PqM).map(m => col(s"d$m")).reduce(_ + _).as("adc"))
    val wAdc = Window.partitionBy($"qid").orderBy($"adc", $"nid")
    val shortlist = scored.withColumn("arn", row_number().over(wAdc))
      .filter($"arn" <= PqRerank)
      .select($"qid", $"nid")
    val reranked = shortlist
      .join(e.select($"vec_id".as("qid"), $"embedding".as("qe")), "qid")
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .select($"qid", $"nid", expr("cosine_sim(qe, ne)").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    reranked.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }

  /** DuckDB replay of the composed IVF+PQ retrieval: the coarse fit is
    * [[ivfFitCteList]] on the unit-normalized vectors (emitting
    * `emb`/`af` — the same CTE names [[pqSubCtes]]'s subspace slices
    * read, so coarse and PQ quantize the IDENTICAL input), the
    * subspace codebooks + ADC LUTs are [[pqSubCtes]] verbatim (shared
    * with [[pqOracleSql]]), and scoring joins candidates to probed
    * lists before the fixed-order ADC sum, shortlist, and exact
    * rerank. */
  lazy val ivfPqOracleSql: String = {
    val M = PqM; val R = IvfKmeans.Rounds
    val codeCols = (0 until M).map(m => s"a$m.list_id AS code$m").mkString(", ")
    val codeJoins = (1 until M)
      .map(m => s"JOIN af_$m a$m USING (vec_id)").mkString(" ")
    val lutJoins = (0 until M)
      .map(m => s"JOIN lut_$m l$m ON l$m.qid = p.vec_id AND l$m.code$m = codes.code$m")
      .mkString("\n  ")
    val adcSum = (0 until M).map(m => s"l$m.d$m").mkString(" + ")
    s"""WITH raw AS MATERIALIZED (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |${ivfFitCteList(s"  SELECT vec_id, $unitNormCase AS v FROM raw")},
       |$pqSubCtes,
       |probe AS MATERIALIZED (
       |${ivfAssignSelect(s"c$R", " WHERE e.vec_id < 5", IvfPqProbes)}),
       |codes AS MATERIALIZED (
       |  SELECT a0.vec_id, af.list_id, $codeCols
       |  FROM af_0 a0 $codeJoins JOIN af USING (vec_id)),
       |scored AS MATERIALIZED (
       |  SELECT p.vec_id AS qid, codes.vec_id AS nid,
       |    $adcSum AS adc
       |  FROM probe p
       |  JOIN codes ON codes.list_id = p.list_id
       |  $lutJoins
       |  WHERE codes.vec_id <> p.vec_id),
       |shortlist AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS arn
       |    FROM scored) z
       |  WHERE arn <= $PqRerank),
       |reranked AS MATERIALIZED (
       |  SELECT s.qid, s.nid, list_cosine_similarity(q.v, n.v) AS cos
       |  FROM shortlist s
       |  JOIN raw q ON q.vec_id = s.qid
       |  JOIN raw n ON n.vec_id = s.nid)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM reranked) z
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB replay of the ENTIRE deterministic IVF pipeline — seeds,
    * the fixed Lloyd rounds (unrolled as plain CTEs; the round count
    * is a compile-time constant, so no recursion is needed), final
    * assignment, 2-probe, exact-cosine top-3. Squared distances zip
    * and accumulate in index order exactly like the Spark expression;
    * centroid means are quantized with the same round(·, 6). */
  /** DuckDB assignment subquery against centroid CTE `cfrom` —
    * shared by the fit replay, the probe, and every consumer of the
    * final assignment. */
  private[operators] def ivfAssignSelect(cfrom: String, where: String, rnBound: Int,
      src: String = "emb"): String =
    s"""  SELECT vec_id, list_id FROM (
       |    SELECT e.vec_id, c.list_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_sum(list_transform(list_zip(e.v, c.c),
       |                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.list_id) AS rn
       |    FROM $src e CROSS JOIN $cfrom c$where) z
       |  WHERE rn <= $rnBound""".stripMargin

  /** The full DuckDB replay of the deterministic [[IvfKmeans]] fit:
    * CTEs from `emb` through `af` (the final nearest-centroid
    * assignment of every vector). Shared prefix of [[ivfOracleSql]]
    * and [[clusterSampleSql]] so the two oracles can never drift.
    * `private[operators]` so [[CurationOps.docRagE2eSql]] chains the
    * SAME fit replay (one quantizer definition repo-wide). */
  private[operators] val ivfFitCtes: String =
    "WITH " + ivfFitCteList(
      "  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings")

  /** The fit replay as a bare CTE LIST (no leading WITH), with the
    * vector source parameterized: `embBody` must select (vec_id, v).
    * Lets a caller fit the SAME deterministic quantizer on any keyed
    * vector set — [[CurationOps.docRagE2eSql]] fits on unit-normalized
    * CHUNK vectors by passing its own source and prepending its chunk
    * CTEs. Emits `emb` (the input), `c0`..`c<Rounds>` (the Lloyd
    * iterates) and `af` (final assignment of every input vector). */
  private[operators] def ivfFitCteList(embBody: String, sfx: String = ""): String = {
    val rounds = (1 to IvfKmeans.Rounds).map { r =>
      s"""a$r$sfx AS (
         |${ivfAssignSelect(s"c${r - 1}$sfx", "", 1, src = s"emb$sfx")}),
         |m$r$sfx AS (
         |  SELECT list_id, i, round(avg(x), 6) AS cx FROM (
         |    SELECT a.list_id, generate_subscripts(e.v, 1) AS i, unnest(e.v) AS x
         |    FROM a$r$sfx a JOIN emb$sfx e USING (vec_id)) z
         |  GROUP BY list_id, i),
         |c$r$sfx AS (
         |  SELECT p.list_id, COALESCE(n.c, p.c) AS c
         |  FROM c${r - 1}$sfx p LEFT JOIN
         |    (SELECT list_id, list(cx ORDER BY i) AS c FROM m$r$sfx GROUP BY list_id) n
         |  USING (list_id))""".stripMargin
    }.mkString(",\n")
    s"""emb$sfx AS (
       |$embBody),
       |c0$sfx AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
       |         v AS c
       |  FROM (SELECT vec_id, v FROM emb$sfx
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${IvfKmeans.K}) s),
       |$rounds,
       |af$sfx AS (
       |${ivfAssignSelect(s"c${IvfKmeans.Rounds}$sfx", "", 1, src = s"emb$sfx")})""".stripMargin
  }

  val ivfOracleSql: String =
    s"""$ivfFitCtes,
       |probe AS (
       |${ivfAssignSelect(s"c${IvfKmeans.Rounds}", " WHERE e.vec_id < 5", 2)}),
       |scored AS (
       |  SELECT p.vec_id AS qid, af.vec_id AS nid,
       |    list_cosine_similarity(q.v, n.v) AS cos
       |  FROM probe p
       |  JOIN af ON af.list_id = p.list_id
       |  JOIN emb q ON q.vec_id = p.vec_id
       |  JOIN emb n ON n.vec_id = af.vec_id
       |  WHERE af.vec_id <> p.vec_id)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM scored) z
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Over-cap rule for [[simAnnIvfBalance]]: a list is HOT iff
    * n · K · SplitDen > SplitNum · total — i.e. more than 9/8 of the
    * mean list size, a deliberately tight balance SLO (the synthetic
    * corpus is near-uniform; real embedding corpora produce far
    * hotter lists and a production deployment would loosen this to
    * ~2× mean). Pure integer arithmetic so both engines pick the
    * identical hot set. */
  private[operators] val IvfSplitNum = 9L
  private[operators] val IvfSplitDen = 8L

  /** IVF list-skew maintenance — the actual 100 TB ANN failure mode:
    * real corpora are clumpy, one hot list grows to many× the mean,
    * and every query probing it pays the skew (probe cost is
    * list-sized, so the hottest list IS the tail latency). This op is
    * the balance METER plus the SPLIT pass that fixes it without a
    * rebuild:
    *
    *  1. build the list-partitioned on-disk index ([[simAnnIvfIndex]]'s
    *     layout);
    *  2. per-list size catalog (K rows — driver-sized at any corpus
    *     scale, the meter an operator alerts on);
    *  3. every over-cap list (rule: [[IvfSplitNum]]/[[IvfSplitDen]] ×
    *     mean) is split in place: a deterministic k'=2
    *     [[IvfKmeans.fitOn]] sub-fit on ONLY that list's vectors
    *     (partition-pruned scan, list-sized work), children keep id
    *     `l` / take id `K + l` (collision-free: original ids < K),
    *     and ONLY the split list's partition is rewritten (dynamic
    *     partition overwrite — untouched lists stay byte-identical,
    *     ScaleSpec-pinned like the compact/delete legs).
    *
    * One split generation per call (children are not re-examined —
    * maintenance runs periodically, each run halves the worst lists).
    * Probing the split list afterwards means probing both children
    * against their own sub-centroids — recall is preserved because
    * the union of the children IS the old list.
    *
    * Output: the post-split catalog — (list_id, parent_id, n_before,
    * n_after, was_split) — the before/after balance meter. Oracle:
    * full replay of fit + counts + sub-fits + reassignment in DuckDB
    * ([[ivfBalanceSql]]), so the on-disk split state is value-checked
    * end to end. */
  /** The over-cap rule on a per-list count catalog — ONE definition
    * under the maintenance pass ([[ivfSplitHot]]) and the probe meter
    * ([[simAnnBalanceProbe]]), so the meter can never measure a
    * different split than the one maintenance performs. */
  private def hotListsOf(cnts: Seq[(Int, Long)]): Seq[Int] = {
    val total = cnts.map(_._2).sum
    cnts.filter { case (_, n) =>
      n * IvfKmeans.K * IvfSplitDen > IvfSplitNum * total
    }.map(_._1).sorted
  }

  def simAnnIvfBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = ivfBalanceBuild(s, d)
    val before = s.read.parquet(dir)
      .groupBy($"list_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq // K rows
    val beforeRows = before.map { case (l, n) => (l.toLong, n) }.toMap
    val hot = ivfSplitHot(s, dir, Some(before))
    val parent = when($"list_id" >= IvfKmeans.K, $"list_id" - IvfKmeans.K)
      .otherwise($"list_id")
    val split =
      if (hot.isEmpty) lit(0L)
      else when(parent.isin(hot.map(_.toLong): _*), 1L).otherwise(0L)
    val out = s.read.parquet(dir)
      .groupBy($"list_id".cast("long").as("list_id"))
      .agg(count(lit(1)).as("n_after"))
      .select($"list_id", parent.as("parent_id"),
        coalesce(element_at(typedLit(beforeRows), $"list_id"), lit(0L)).as("n_before"),
        $"n_after", split.as("was_split"))
      .orderBy($"list_id")
    // catalog-sized result: materialize so the index tree can be
    // removed before returning (same no-leak contract as simAnnIvfIndex)
    val res = graft.Tables.materializeAndRelease(out)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    res
  }

  /** Build leg of [[simAnnIvfBalance]]: the corpus assigned with the
    * persisted deterministic quantizer, written list-partitioned —
    * [[simAnnIvfIndex]]'s on-disk shape, kept (not deleted) so the
    * split pass and ScaleSpec's file-level pins can operate on it. */
  private[graft] def ivfBalanceBuild(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val dir = scratch(s, "ivfbal", java.util.UUID.randomUUID.toString)
    IvfKmeans.withV(s, d)
      .withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    dir
  }

  /** Split pass of [[simAnnIvfBalance]]: detect over-cap lists from
    * the per-list catalog (K rows, driver-side — bounded at any
    * scale), sub-fit k'=2 per hot list on only that list's vectors,
    * and rewrite ONLY the hot partitions (children `l` and `K + l`)
    * via dynamic partition overwrite. Returns the hot list ids.
    * Package-private so ScaleSpec pins the file-level contract —
    * untouched list dirs byte-stable — around exactly this step. */
  private[graft] def ivfSplitHot(s: SparkSession, dir: String,
      precounted: Option[Seq[(Int, Long)]] = None): Seq[Int] = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    // a caller that already collected the K-row catalog passes it in
    // rather than paying a second full-index scan
    val cnts = precounted.getOrElse {
      s.read.parquet(dir)
        .groupBy($"list_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    }
    val hot = hotListsOf(cnts)
    if (hot.isEmpty) return hot
    val widen = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    // one deterministic 2-means per hot list, ALL lists fit in one
    // grouped pass over a single partition-pruned IN-list scan
    // (value-identical to the former per-list fitOn loop — 1+Rounds
    // jobs total instead of per list), then ONE combined
    // touched-partitions rewrite
    val subFrame = s.read.parquet(dir).filter($"list_id".isin(hot: _*))
      .select($"vec_id", $"embedding", widen.as("v"), $"list_id")
    val sc = IvfKmeans.fitOnGrouped(s,
      subFrame.select($"list_id".as("gid"), $"vec_id", $"v"), 2, hot)
    val newId = coalesce(hot.map(l => when($"list_id" === l,
      when($"sub" === 0, lit(l)).otherwise(lit(IvfKmeans.K + l)))): _*)
    val split = subFrame
      .withColumn("sub", IvfKmeans.assignColGrouped(s, sc, $"list_id", $"v"))
      .select($"vec_id", $"embedding", newId.cast("int").as("list_id"))
    // lineage cut before the rewrite deletes the files the plan reads
    val rows = split.localCheckpoint(true)
    val survivors = rows.select($"list_id").distinct()
      .collect().map(_.getInt(0)).toSet
    CurationOps.withDynamicPartitionOverwrite(s) {
      rows.repartition($"list_id")
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    }
    rows.unpersist()
    // a hot list whose every vector moved to the child writes no
    // partition under dynamic overwrite — remove the stale dir
    // explicitly (the compact-and-delete lesson, ragDeleteFrom)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    hot.filterNot(survivors).foreach { lid =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"list_id=$lid"), true)
    }
    hot
  }

  /** DuckDB replay of [[simAnnIvfBalance]] end to end: the shared
    * [[ivfFitCtes]] fit + assignment, the integer over-cap rule, a
    * per-hot-list 2-means sub-fit (the SAME unrolled-Lloyd CTE shape
    * as the main quantizer, grouped by (list_id, sub)), deterministic
    * child ids, and the before/after catalog. */
  /** The balance replay as a bare CTE chain — fit + assignment
    * ([[ivfFitCtes]]), the integer over-cap rule, per-hot-list 2-means
    * sub-fits, and the post-split assignment `finalasg` — shared by
    * [[ivfBalanceSql]] and the balance-probe meter so the split state
    * has ONE definition. */
  private lazy val ivfBalanceCtesBody: String = {
    val K = IvfKmeans.K; val R = IvfKmeans.Rounds
    def subAssign(cfrom: String): String =
      s"""  SELECT list_id, vec_id, sub FROM (
         |    SELECT e.list_id, e.vec_id, c.sub,
         |      row_number() OVER (PARTITION BY e.list_id, e.vec_id
         |        ORDER BY list_sum(list_transform(list_zip(e.v, c.c),
         |                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.sub) AS rn
         |    FROM sub_emb e JOIN $cfrom c USING (list_id)) z
         |  WHERE rn = 1""".stripMargin
    val rounds = (1 to R).map { r =>
      s"""sa$r AS (
         |${subAssign(s"s${r - 1}")}),
         |sm$r AS (
         |  SELECT list_id, sub, i, round(avg(x), 6) AS cx FROM (
         |    SELECT a.list_id, a.sub, generate_subscripts(e.v, 1) AS i, unnest(e.v) AS x
         |    FROM sa$r a JOIN sub_emb e ON e.list_id = a.list_id AND e.vec_id = a.vec_id) z
         |  GROUP BY 1, 2, 3),
         |s$r AS (
         |  SELECT p.list_id, p.sub, COALESCE(n.c, p.c) AS c
         |  FROM s${r - 1} p LEFT JOIN
         |    (SELECT list_id, sub, list(cx ORDER BY i) AS c FROM sm$r GROUP BY 1, 2) n
         |  USING (list_id, sub))""".stripMargin
    }.mkString(",\n")
    s"""$ivfFitCtes,
       |cnt AS (SELECT list_id, count(*) AS n FROM af GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM emb),
       |hot AS (SELECT list_id FROM cnt, tot
       |        WHERE n * ${K * IvfSplitDen} > $IvfSplitNum * total),
       |sub_emb AS (
       |  SELECT a.list_id, e.vec_id, e.v
       |  FROM af a JOIN hot USING (list_id) JOIN emb e USING (vec_id)),
       |s0 AS (
       |  SELECT list_id, rn - 1 AS sub, c FROM (
       |    SELECT list_id, v AS c,
       |      row_number() OVER (PARTITION BY list_id
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM sub_emb) z
       |  WHERE rn <= 2),
       |$rounds,
       |saf AS (
       |${subAssign(s"s$R")}),
       |finalasg AS (
       |  SELECT a.vec_id,
       |    COALESCE(CASE WHEN m.sub = 0 THEN m.list_id ELSE m.list_id + $K END,
       |             a.list_id) AS list_id
       |  FROM af a LEFT JOIN saf m ON m.vec_id = a.vec_id)""".stripMargin
  }
  lazy val ivfBalanceSql: String = {
    val K = IvfKmeans.K
    // MATERIALIZED: DuckDB inlines CTE references, and this chain is
    // walked from several consumers (cnt/hot/sub_emb/finalasg all sit
    // on af; the final select joins cnt and hot again) — evaluate-once
    // turned a ~475 s replay into sub-second at sf0.01, bit-identical
    val body = ivfBalanceCtesBody.replace(" AS (", " AS MATERIALIZED (")
    s"""$body,
       |aft AS (SELECT list_id, count(*) AS n_after FROM finalasg GROUP BY 1)
       |SELECT CAST(f.list_id AS BIGINT) AS list_id,
       |  CAST(CASE WHEN f.list_id >= $K THEN f.list_id - $K ELSE f.list_id END AS BIGINT) AS parent_id,
       |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_before,
       |  CAST(f.n_after AS BIGINT) AS n_after,
       |  CAST(CASE WHEN h.list_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS was_split
       |FROM aft f
       |LEFT JOIN cnt c ON c.list_id = f.list_id
       |LEFT JOIN hot h ON h.list_id =
       |  (CASE WHEN f.list_id >= $K THEN f.list_id - $K ELSE f.list_id END)
       |ORDER BY list_id""".stripMargin
  }

  /** The meter that JUSTIFIES the split before rollout — per query,
    * probe cost and recall@3 before vs after [[simAnnIvfBalance]]'s
    * in-place split, with the same probe budget (2 lists): probe cost
    * is candidate rows scanned (the hottest list IS the tail latency,
    * so this is the number the split exists to shrink), recall is
    * measured against the shared brute-force truth. After the split a
    * query ranks the ENLARGED centroid set — non-hot parents plus both
    * children of every hot list — and scans the post-split
    * assignment; the meter says whether the skew fix bought its probe
    * savings without losing ground-truth neighbors, exactly as
    * [[simAnnRecall]] gates the base index. Output is queries×1 rows
    * (wide: before/after columns) — driver-sized at any corpus scale;
    * everything corpus-sized is the two probed scans. */
  def simAnnBalanceProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val e = IvfKmeans.withV(s, d).cache()
    val before = e.withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"v", $"list_id")
    val cnts = before.groupBy($"list_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val hot = hotListsOf(cnts) // the maintenance pass's own rule
    // in-memory twin of ivfSplitHot: same deterministic sub-fits, same
    // child-id rule — this op measures the SPLIT STATE, not the files.
    // All hot lists fit in ONE grouped pass (value-identical to the
    // former per-list fitOn loop, 1+Rounds jobs total instead of per
    // list — guide §1.2)
    val subCents =
      if (hot.isEmpty) Map.empty[Int, Array[Array[Double]]]
      else IvfKmeans.fitOnGrouped(s,
        before.filter($"list_id".isin(hot: _*))
          .select($"list_id".as("gid"), $"vec_id", $"v"), 2, hot)
    val after =
      if (hot.isEmpty) before
      else {
        val cold = before.filter(!$"list_id".isin(hot.map(l => l): _*))
        val moved = hot.map { l =>
          before.filter($"list_id" === l)
            .withColumn("sub", IvfKmeans.assignCol(s, subCents(l), $"v"))
            .withColumn("list_id",
              when($"sub" === 0, lit(l)).otherwise(lit(IvfKmeans.K + l)).cast("int"))
            .drop("sub")
        }.reduce(_ unionByName _)
        cold.unionByName(moved)
      }
    val cdfBefore = IvfKmeans.centroidFrame(s, cents)
    val cdfAfter = {
      val cold = cents.zipWithIndex.collect {
        case (c, i) if !hot.contains(i) => (i, c.toSeq)
      }.toSeq
      val kids = hot.flatMap(l =>
        Seq((l, subCents(l)(0).toSeq), (IvfKmeans.K + l, subCents(l)(1).toSeq)))
      (cold ++ kids).sortBy(_._1).toDF("list_id", "c")
    }
    // shared brute truth (top-3 exact cosine over everything)
    val wq = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    val truth = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qe"))
      .crossJoin(e.select($"vec_id".as("nid"), $"embedding"))
      .filter($"qid" =!= $"nid")
      .select($"qid", $"nid", expr("cosine_sim(qe, embedding)").as("cos"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= 3)
      .select($"qid", $"nid")
    def phase(cdf: DataFrame, assigned: DataFrame, sfx: String): DataFrame = {
      val probes = IvfKmeans.withDists(e.filter($"vec_id" < 5), cdf)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), $"list_id")
      val cand = probes.join(assigned.select($"vec_id", $"embedding", $"list_id"), "list_id")
        .filter($"qid" =!= $"vec_id")
        .select($"qid", $"vec_id".as("nid"),
          expr("cosine_sim(qe, embedding)").as("cos"))
      val top3 = cand.withColumn("rn", row_number().over(wq)).filter($"rn" <= 3)
        .select($"qid", $"nid").withColumn("hit", lit(1L))
      val nc = cand.groupBy($"qid").agg(count(lit(1)).as(s"n_cand_$sfx"))
      val nh = truth.join(top3, Seq("qid", "nid"), "left")
        .groupBy($"qid")
        .agg(sum(coalesce($"hit", lit(0L))).as(s"n_hit_$sfx"))
      nc.join(nh, "qid")
    }
    val out = phase(cdfBefore, before, "before")
      .join(phase(cdfAfter, after, "after"), "qid")
      .select($"qid", $"n_cand_before", $"n_cand_after",
        $"n_hit_before", $"n_hit_after",
        expr("(1000000L * n_hit_before) div 3").as("recall_before_ppm"),
        expr("(1000000L * n_hit_after) div 3").as("recall_after_ppm"))
      .orderBy($"qid")
    graft.Tables.materializeAndRelease(out, e) // queries-sized; release the cache
  }
  /** Oracle: the shared balance replay ([[ivfBalanceCtesBody]] —
    * identical fit, hot rule, sub-fits, post-split assignment), an
    * enlarged centroid table, both probes at the same budget, and the
    * same brute truth as [[simAnnRecall]]. */
  lazy val simAnnBalanceProbeSql: String = {
    val K = IvfKmeans.K; val R = IvfKmeans.Rounds
    // DuckDB INLINES each CTE reference; this oracle walks the fit +
    // sub-fit chains from several consumers, so every chain CTE is
    // MATERIALIZED (evaluate-once) and each expensive CTE below is
    // referenced exactly once — without this the replay re-runs the
    // Lloyd chains per reference and the check stalls
    val body = ivfBalanceCtesBody.replace(" AS (", " AS MATERIALIZED (")
    s"""$body,
       |cafter AS MATERIALIZED (
       |  SELECT list_id, c FROM c$R
       |  WHERE list_id NOT IN (SELECT list_id FROM hot)
       |  UNION ALL
       |  SELECT CASE WHEN sub = 0 THEN list_id ELSE list_id + $K END AS list_id, c
       |  FROM s$R),
       |pb AS (
       |${ivfAssignSelect(s"c$R", " WHERE e.vec_id < 5", 2)}),
       |pa AS (
       |${ivfAssignSelect("cafter", " WHERE e.vec_id < 5", 2)}),
       |cbr AS MATERIALIZED (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid) AS rn FROM (
       |    SELECT p.vec_id AS qid, a.vec_id AS nid,
       |      list_cosine_similarity(q.v, e.v) AS cos
       |    FROM pb p JOIN af a USING (list_id)
       |    JOIN emb q ON q.vec_id = p.vec_id JOIN emb e ON e.vec_id = a.vec_id
       |    WHERE a.vec_id <> p.vec_id) z),
       |car AS MATERIALIZED (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid) AS rn FROM (
       |    SELECT p.vec_id AS qid, a.vec_id AS nid,
       |      list_cosine_similarity(q.v, e.v) AS cos
       |    FROM pa p JOIN finalasg a USING (list_id)
       |    JOIN emb q ON q.vec_id = p.vec_id JOIN emb e ON e.vec_id = a.vec_id
       |    WHERE a.vec_id <> p.vec_id) z),
       |truth AS MATERIALIZED (SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rn
       |    FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) z WHERE rn <= 3),
       |resb AS (
       |  SELECT c.qid, count(*) AS n_cand_before,
       |    CAST(sum(CASE WHEN c.rn <= 3 AND t.nid IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit_before
       |  FROM cbr c LEFT JOIN truth t ON t.qid = c.qid AND t.nid = c.nid
       |  GROUP BY c.qid),
       |resa AS (
       |  SELECT c.qid, count(*) AS n_cand_after,
       |    CAST(sum(CASE WHEN c.rn <= 3 AND t.nid IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit_after
       |  FROM car c LEFT JOIN truth t ON t.qid = c.qid AND t.nid = c.nid
       |  GROUP BY c.qid)
       |SELECT qid, n_cand_before, n_cand_after, n_hit_before, n_hit_after,
       |  (1000000 * n_hit_before) // 3 AS recall_before_ppm,
       |  (1000000 * n_hit_after) // 3 AS recall_after_ppm
       |FROM resb JOIN resa USING (qid)
       |ORDER BY qid""".stripMargin
  }

  /** Shortlist depth of [[simAnnSq8]] — same two-stage budget as
    * [[PqRerank]]. */
  private[operators] val SqRerank = 64

  /** Scalar-quantization ANN (FAISS `IndexScalarQuantizer` QT_8bit
    * shape): each dimension is affinely quantized to an 8-bit code
    * against per-dimension corpus [min,max] — the "model" is 2×d
    * doubles (one tiny aggregate), vs PQ's 8 trained codebooks. The
    * scan side then touches 1-byte codes instead of 4-byte floats (4×
    * less I/O at 100 TB, with none of PQ's training coupling — SQ is
    * what production systems deploy when the corpus distribution
    * drifts too fast to keep codebooks fresh). Distance is SYMMETRIC
    * over the integer codes (query quantized too): every per-dim term
    * is an exact small integer, so the distance sum is
    * order-independent and bit-identical across engines — no
    * fixed-order accumulation contract needed, unlike the float ADC
    * of [[simAnnPq]]. Two-stage retrieval mirrors the family: top-
    * [[SqRerank]] shortlist by code distance, exact-cosine rerank,
    * top-3 per query (vec_id < 5), ties to the lower neighbor id.
    *
    * Fit = one min/max aggregate (map-side partials, d rows out);
    * encode = one map-side projection with the 2×d literals; scan =
    * broadcast query codes × corpus codes, corpus-LINEAR with no
    * shuffle before the queries×shortlist window. */
  def simAnnSq8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val e = IvfKmeans.withV(s, d).cache()
    // per-dimension [min,max]: min/max are exact selections (no
    // accumulation), so the fit is deterministic by construction
    val stats = e.select(posexplode($"v").as(Seq("i", "x")))
      .groupBy($"i").agg(min($"x").as("mn"), max($"x").as("mx"))
      .orderBy($"i").collect()
    val mnLit = typedLit(stats.map(_.getDouble(1)).toSeq)
    val mxLit = typedLit(stats.map(_.getDouble(2)).toSeq)
    // code_i = clamp(floor((x-mn)*256/(mx-mn)), 0..255): floor, not
    // round — no half-way cross-engine ambiguity. Codes stay DOUBLE
    // (exact integers ≤255) so sq_dist applies unchanged; the on-disk
    // form at scale is the same values as 1-byte ints.
    def codesOf(v: Column): Column = transform(v, (x, i) => {
      val mn = element_at(mnLit, i + lit(1))
      val mx = element_at(mxLit, i + lit(1))
      when(mx > mn,
        least(lit(255.0), floor((x - mn) * lit(256.0) / (mx - mn))))
        .otherwise(lit(0.0))
    })
    val codes = e.select($"vec_id", codesOf($"v").as("c"))
    val qcodes = codes.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"c".as("qc"))
    val scored = codes.crossJoin(broadcast(qcodes))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("nid"),
        expr("sq_dist(qc, c)").as("sd"))
    val wSd = Window.partitionBy($"qid").orderBy($"sd", $"nid")
    val shortlist = scored.withColumn("arn", row_number().over(wSd))
      .filter($"arn" <= SqRerank)
      .select($"qid", $"nid")
    val reranked = shortlist
      .join(e.select($"vec_id".as("qid"), $"embedding".as("qe")), "qid")
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .select($"qid", $"nid", expr("cosine_sim(qe, ne)").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    reranked.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid")
      .orderBy($"qid", $"rank")
  }

  /** DuckDB replay of the SQ8 pipeline: per-dim min/max as two
    * ordered lists, the identical clamp-floor affine quantizer via a
    * 3-way list_zip, symmetric integer code distance, top-64
    * shortlist, exact-cosine rerank, top-3. */
  lazy val sq8OracleSql: String =
    s"""WITH raw AS MATERIALIZED (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |stats AS MATERIALIZED (
       |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM (
       |    SELECT i, min(x) AS mn, max(x) AS mx FROM (
       |      SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM raw) z
       |    GROUP BY i) zz),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, list_transform(list_zip(v, mns, mxs),
       |    p -> CASE WHEN p[3] > p[2]
       |              THEN least(255.0, floor((p[1] - p[2]) * 256.0 / (p[3] - p[2])))
       |              ELSE 0.0 END) AS c
       |  FROM raw CROSS JOIN stats),
       |scored AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, n.vec_id AS nid,
       |    list_sum(list_transform(list_zip(q.c, n.c),
       |             p -> (p[1]-p[2])*(p[1]-p[2]))) AS sd
       |  FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |shortlist AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS arn
       |    FROM scored) z
       |  WHERE arn <= $SqRerank),
       |reranked AS MATERIALIZED (
       |  SELECT s.qid, s.nid, list_cosine_similarity(q.v, n.v) AS cos
       |  FROM shortlist s
       |  JOIN raw q ON q.vec_id = s.qid
       |  JOIN raw n ON n.vec_id = s.nid)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM reranked) z
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Per-list pick budget for [[simClusterSample]]: 4×16 lists = a
    * 64-vector balanced draw on the test corpus; at scale both k and
    * the budget grow with the target sample size. */
  val ClusterSamplePerList = 4L

  /** Cluster-balanced diversity sample: up to [[ClusterSamplePerList]]
    * vectors per IVF list, drawn deterministically by md5 order — the
    * embedding-space analogue of [[CurationOps.docSampleStratified]].
    * Uniform random sampling over-represents dense regions of
    * embedding space (boilerplate-heavy web text); sampling a fixed
    * budget per coarse-quantizer cell yields the spread-out subset
    * semantic-coverage evals and seed-set selection want.
    *
    * Shape: assignment is the broadcast-centroid map-side aggregate
    * ([[IvfKmeans.assign]]); the per-list pick is a window over
    * list-sized partitions (k lists — each partition holds ~n/k rows,
    * and at 100 TB the same two-pass top-k trick as ev_anomaly applies
    * if a list outgrows a task). Output integer-only; oracle replays
    * the identical fit via [[ivfFitCtes]]. */
  def simClusterSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = IvfKmeans.centroids(s, d)
    val e = IvfKmeans.withV(s, d)
    val w = Window.partitionBy($"list_id")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
    e.select($"vec_id",
        IvfKmeans.assignCol(s, cents, $"v").as("list_id"))
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter($"pick" <= ClusterSamplePerList)
      .select($"list_id".cast("long").as("list_id"), $"pick", $"vec_id")
      .orderBy($"list_id", $"pick")
  }
  val clusterSampleSql: String =
    s"""$ivfFitCtes,
       |ranked AS (
       |  SELECT list_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY list_id
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS pick
       |  FROM af)
       |SELECT CAST(list_id AS BIGINT) AS list_id, pick, vec_id
       |FROM ranked WHERE pick <= $ClusterSamplePerList
       |ORDER BY list_id, pick""".stripMargin

  /** ANN quality evaluation as a first-class query: recall@3 of the
    * LSH index path against the brute-force ground truth, per query,
    * in integer ppm — the measurement that justifies (or vetoes) an
    * approximate index before a 100 TB rollout. SimilaritySpec pins a
    * recall floor as a unit test; this op makes the same number
    * QUERYABLE so an index rollout can gate on it in-pipeline. Both
    * sides are existing registered ops reused verbatim (Spark: the op
    * functions; oracle: their SQL embedded as subqueries), so the
    * metric can never drift from what the index ops actually return.
    * Cost = brute + LSH + a queries×k join: evaluation is always
    * sampled-query-sized, never corpus-sized. */
  def simAnnRecall(s: SparkSession, d: String): DataFrame =
    annRecallOf(s, d, SimilarityOps.simAnnLsh(s, d))

  /** Recall@3 of the composed IVF+PQ index ([[simAnnIvfPq]]) against
    * the same brute-force truth — the rollout gate for the DOUBLE
    * approximation (coarse probe misses + PQ quantization error
    * compound; this is the meter that says whether 2-probe × 8-nibble
    * codes still retrieve what exact search would, before anyone
    * trades 32× scan cost for it at 100 TB). Same harness as
    * [[simAnnRecall]], so every ANN variant carries the same meter. */
  def simAnnIvfPqRecall(s: SparkSession, d: String): DataFrame =
    annRecallOf(s, d, simAnnIvfPq(s, d))

  /** Recall@3 of the scalar-quantized index ([[simAnnSq8]]) — the
    * rollout gate quantifying what 8-bit-per-dim compression alone
    * costs in retrieval quality (no probe misses here: SQ scans the
    * full corpus, so any loss is pure quantization error — the
    * cleanest A/B against [[simAnnIvfPqRecall]]'s compounded loss). */
  def simAnnSq8Recall(s: SparkSession, d: String): DataFrame =
    annRecallOf(s, d, simAnnSq8(s, d))

  /** Shared ANN-recall harness: brute truth left-joined by the
    * candidate's (qid, nid) picks, integer-ppm rollup. `truthOpt`
    * swaps in a narrowed truth for predicate-scoped variants
    * ([[simAnnFilteredRecall]]); default is the shared full-corpus
    * brute baseline. */
  private def annRecallOf(
      s: SparkSession, d: String, candidate: DataFrame,
      truthOpt: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val brute = truthOpt.getOrElse(SimilarityOps.simTopkBrute(s, d))
      .select($"qid", $"nid")
    val got = candidate.select($"qid", $"nid").withColumn("hit", lit(1L))
    brute.join(got, Seq("qid", "nid"), "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .select($"qid", $"n_true", $"n_hit",
        expr("(1000000L * n_hit) div n_true").as("recall_ppm"))
      .orderBy($"qid")
  }

  /** Recall rollup with the candidate's full query nested as a derived
    * table — one definition for every ANN variant's recall oracle.
    * `truthSql` defaults to the shared full-corpus brute baseline. */
  private def annRecallSqlAgainst(candidateSql: String,
      truthSql: String = SimilarityOps.simTopkBruteSql): String =
    s"""WITH brute AS (SELECT qid, nid FROM (
       |$truthSql
       |) zb),
       |got AS (SELECT qid, nid FROM (
       |$candidateSql
       |) zl)
       |SELECT b.qid, count(*) AS n_true,
       |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((1000000 * sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM brute b LEFT JOIN got l ON l.qid = b.qid AND l.nid = b.nid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  lazy val simAnnRecallSql: String =
    annRecallSqlAgainst(SimilarityOps.simAnnLshSql)
  lazy val simAnnIvfPqRecallSql: String =
    annRecallSqlAgainst(ivfPqOracleSql)
  lazy val simAnnSq8RecallSql: String =
    annRecallSqlAgainst(sq8OracleSql)

  /** The ANN variants [[simAnnReport]] meters, with their op + oracle
    * — one list so the report can never cover a different set than
    * the registered recall ops. */
  private lazy val annVariants: Seq[(String, (SparkSession, String) => DataFrame, () => String)] = Seq(
    ("ivf", (s, d) => simAnnIvf(s, d), () => ivfOracleSql),
    ("ivf_pq", (s, d) => simAnnIvfPq(s, d), () => ivfPqOracleSql),
    ("lsh", (s, d) => SimilarityOps.simAnnLsh(s, d), () => SimilarityOps.simAnnLshSql),
    ("sq8", (s, d) => simAnnSq8(s, d), () => sq8OracleSql))

  /** The ANN analogue of [[DedupOps.dedupReport]]: every index
    * variant's per-query recall@3 against the shared brute truth in
    * ONE table — the side-by-side a 100 TB index rollout decision
    * actually reads (LSH's probe misses vs IVF+PQ's compounded
    * approximation vs SQ8's pure quantization error, same queries,
    * same truth). Built from [[annRecallOf]] per variant, so the
    * report cannot drift from the individual recall ops; evaluation
    * cost stays query-sized per variant. */
  def simAnnReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    annVariants.map { case (name, opf, _) =>
      annRecallOf(s, d, opf(s, d)).withColumn("variant", lit(name))
    }.reduce(_ unionAll _)
      .select($"variant", $"qid", $"n_true", $"n_hit", $"recall_ppm")
      .orderBy($"variant", $"qid")
  }
  lazy val simAnnReportSql: String =
    annVariants.map { case (name, _, sqlf) =>
      s"""SELECT '$name' AS variant, qid, n_true, n_hit, recall_ppm FROM (
         |${annRecallSqlAgainst(sqlf())}
         |) z_$name""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY variant, qid")

  /** Deepest probe depth [[simAnnProbeSweep]] measures (of
    * [[IvfKmeans.K]] lists) — 4 levels is the knee region for a
    * 2-probe default. */
  private[operators] val SweepMaxProbe = 4

  /** The IVF probe-depth TUNING CURVE — the one-table answer to "what
    * nprobe do we serve at": for every probe depth 1..[[SweepMaxProbe]],
    * micro recall@3 against the shared brute truth
    * ([[SimilarityOps.simTopkBrute]]) next to the scan cost that depth
    * pays (`scanned` = candidate rows exact-scored across the query
    * set). Recall climbs with nprobe while cost climbs ∝ probed-list
    * mass; the curve is what turns "recall too low" into "raise nprobe
    * to 3, pay 1.5× scan" — reference's full-scan evaluator
    * (`src/datastore/graph.rs:696-821`) has no tuning dial, this is
    * the rebuild's. Candidates are scored ONCE at the deepest level
    * and each sweep level filters the cached set by its probe rank —
    * at 100 TB that is [[SweepMaxProbe]]/16ths of the corpus scanned
    * once, not once per level. Output is [[SweepMaxProbe]] rows at any
    * corpus size; everything crossing the oracle is integer (ppm). */
  def simAnnProbeSweep(s: SparkSession, d: String): DataFrame = {
    val (out, caches) = probeSweepLazy(s, d)
    graft.Tables.materializeAndRelease(out, caches: _*)
  }

  /** [[simAnnProbeSweep]]'s lazy plan, exposed for ScaleSpec's pin
    * that every sweep level filters the cached candidate set instead
    * of re-scanning the corpus — returns (result, the caches the
    * caller must unpersist). `assignedTransform`/`truthOpt` scope the
    * candidate set and the truth for predicate-scoped sweeps
    * ([[simAnnFilteredSweep]]); defaults are the unfiltered corpus
    * and the shared brute baseline. */
  private[graft] def probeSweepLazy(
      s: SparkSession, d: String,
      assignedTransform: DataFrame => DataFrame = identity,
      truthOpt: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val cdf = IvfKmeans.centroidFrame(s, cents)
    val e = IvfKmeans.withV(s, d).cache()
    val assigned = assignedTransform(e
      .withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"list_id"))
    val probes = IvfKmeans.withDists(e.filter($"vec_id" < 5), cdf)
      .withColumn("probe_rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")).cast("long"))
      .filter($"probe_rn" <= SweepMaxProbe)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"list_id", $"probe_rn")
    val cand = probes.join(assigned, "list_id")
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"probe_rn", $"vec_id".as("nid"),
        expr("cosine_sim(qe, embedding)").as("cos"))
      .cache()
    val brute = truthOpt.getOrElse(SimilarityOps.simTopkBrute(s, d))
      .select($"qid", $"nid").cache()
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    val out = (1 to SweepMaxProbe).map { p =>
      val lvl = cand.filter($"probe_rn" <= p)
      val got = lvl.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"nid", lit(1L).as("hit"))
      val rec = brute.join(got, Seq("qid", "nid"), "left")
        // n_hit coalesced to 0 over an EMPTY truth set so the row
        // matches the oracle's levels-LEFT JOIN-brute shape (n_true=0,
        // n_hit=0, recall NULL — ADVICE r18); div by n_true=0 is NULL
        // natively on both engines' guarded forms
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(coalesce($"hit", lit(0L))), lit(0L)).as("n_hit"))
      lvl.agg(count(lit(1)).as("scanned")).crossJoin(rec)
        .select(lit(p.toLong).as("nprobe"), $"scanned", $"n_true", $"n_hit",
          expr("CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (1000000L * n_hit) div n_true END").as("recall_ppm"))
    }.reduce(_ unionAll _).orderBy($"nprobe")
    (out, Seq(e, cand, brute))
  }
  /** The label value [[simAnnFiltered]] serves under — one of the 10
    * balanced labels, a ~10%-selective predicate. */
  private[operators] val AnnFilterLabel = 3

  /** FILTERED ANN over the raw embedding corpus — [[simAnnIvf]]'s
    * retrieval under a metadata predicate (`label = [[AnnFilterLabel]]`),
    * the vector-store feature every deployment grows next, in its
    * PUREST 100 TB posture: the filterable attribute already lives IN
    * the vector table (no join anywhere — the predicate is a scan
    * filter pushed to parquet, and with a list-partitioned index it
    * prunes inside the probed partitions), candidates are cut
    * PRE-ranking (post-cutting a K-deep shortlist under-fills the
    * moment the filter bites), and the probe side is byte-for-byte
    * [[probeAndScore]]'s — the docRagE2e/simAnnIvf serve contract.
    * Sibling of [[CurationOps.docRagFiltered]] (chunk-index side);
    * this is the raw-vector side. */
  def simAnnFiltered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val cents = IvfKmeans.centroids(s, d)
    val cdf = IvfKmeans.centroidFrame(s, cents)
    val e = IvfKmeans.withV(s, d)
    // deliberately a SECOND scan, not a shared one: the query side
    // reads 5 vectors (vec_id pushdown), the index side reads only the
    // label partition's row groups — one shared scan would read the
    // union with neither predicate pushed
    val assigned = IvfKmeans
      .withVOf(embeddings(s, d).select($"vec_id", $"embedding", $"label"))
      .filter($"label" === AnnFilterLabel)
      .withColumn("list_id", IvfKmeans.assignCol(s, cents, $"v"))
      .select($"vec_id", $"embedding", $"list_id")
    probeAndScore(e, cdf, assigned)
  }
  val simAnnFilteredSql: String =
    s"""$ivfFitCtes,
       |lbl AS (SELECT vec_id FROM embeddings WHERE label = $AnnFilterLabel),
       |probe AS (
       |${ivfAssignSelect(s"c${IvfKmeans.Rounds}", " WHERE e.vec_id < 5", 2)}),
       |scored AS (
       |  SELECT p.vec_id AS qid, af.vec_id AS nid,
       |    list_cosine_similarity(q.v, n.v) AS cos
       |  FROM probe p
       |  JOIN af ON af.list_id = p.list_id
       |  JOIN lbl ON lbl.vec_id = af.vec_id
       |  JOIN emb q ON q.vec_id = p.vec_id
       |  JOIN emb n ON n.vec_id = af.vec_id
       |  WHERE af.vec_id <> p.vec_id)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM scored) z
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Recall@3 of [[simAnnFiltered]] against the EXACT filtered truth
    * (brute cosine over label-matching vectors only) — the raw-vector
    * twin of [[CurationOps.docRagFilteredRecall]]: a selective
    * predicate decimates probed lists until the true filtered
    * neighbors live in unprobed ones, and the fix (probe deeper when
    * filtering — [[simAnnProbeSweep]] is the dial) must be justified
    * here before anyone pays it at 100 TB. */
  def simAnnFilteredRecall(s: SparkSession, d: String): DataFrame =
    annRecallOf(s, d, simAnnFiltered(s, d),
      truthOpt = Some(filteredBruteTruth(s, d)))

  /** Exact top-3 among label-matching vectors — the truth both
    * [[simAnnFilteredRecall]] and [[simAnnFilteredSweep]] score
    * against: the SHARED brute harness
    * ([[SimilarityOps.simTopkBruteWhere]]) with the label screen, so a
    * tie-break or query-set change to the baseline reaches the
    * filtered truth automatically. */
  private def filteredBruteTruth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SimilarityOps.simTopkBruteWhere(s, d, _.filter($"label" === AnnFilterLabel))
  }

  /** The probe-depth dial UNDER THE FILTER — the measurement the
    * filtered-retrieval family's scaladocs defer to ("probe deeper
    * when filtering"): [[simAnnProbeSweep]]'s recall-vs-scan-cost
    * curve with candidates label-screened and recall scored against
    * the EXACT filtered truth. A selective predicate thins each
    * probed list ~10×, so filtered recall at the default depth sits
    * below the unfiltered curve — this table says what nprobe buys it
    * back and what the probed-scan cost of that is, per deployment
    * decision. Same single-scored-cached-candidate-set shape as the
    * unfiltered sweep (the ScaleSpec pin covers both paths). */
  def simAnnFilteredSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lbl = embeddings(s, d)
      .filter($"label" === AnnFilterLabel).select($"vec_id")
    val (out, caches) = probeSweepLazy(s, d,
      assignedTransform = a => a.join(lbl, Seq("vec_id"), "left_semi"),
      truthOpt = Some(filteredBruteTruth(s, d)))
    graft.Tables.materializeAndRelease(out, caches: _*)
  }
  lazy val simAnnFilteredSweepSql: String = probeSweepSqlWith(
    lblCte = s"\nlbl AS (SELECT vec_id FROM embeddings WHERE label = $AnnFilterLabel),",
    lblJoin = "\n  JOIN lbl ON lbl.vec_id = af.vec_id",
    truthSql = filteredBruteSql)
  private val filteredBruteSql: String =
    SimilarityOps.simTopkBruteSqlWhere(s" AND b.label = $AnnFilterLabel")
  lazy val simAnnFilteredRecallSql: String =
    annRecallSqlAgainst(simAnnFilteredSql, truthSql = filteredBruteSql)

  /** The sweep oracle as a builder: `lblCte`/`lblJoin` insert the
    * candidate label screen, `truthSql` swaps the truth — one
    * definition under the unfiltered and filtered sweeps. */
  private def probeSweepSqlWith(
      lblCte: String, lblJoin: String, truthSql: String): String =
    s"""$ivfFitCtes,$lblCte
       |probe AS (
       |  SELECT vec_id, list_id, rn FROM (
       |    SELECT e.vec_id, c.list_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_sum(list_transform(list_zip(e.v, c.c),
       |                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.list_id) AS rn
       |    FROM emb e CROSS JOIN c${IvfKmeans.Rounds} c WHERE e.vec_id < 5) z
       |  WHERE rn <= $SweepMaxProbe),
       |cand AS (
       |  SELECT p.vec_id AS qid, p.rn AS probe_rn, af.vec_id AS nid,
       |    list_cosine_similarity(q.v, n.v) AS cos
       |  FROM probe p
       |  JOIN af ON af.list_id = p.list_id$lblJoin
       |  JOIN emb q ON q.vec_id = p.vec_id
       |  JOIN emb n ON n.vec_id = af.vec_id
       |  WHERE af.vec_id <> p.vec_id),
       |brute AS (SELECT qid, nid FROM (
       |$truthSql
       |) zb),
       |levels AS (SELECT unnest([${(1 to SweepMaxProbe).mkString(", ")}]) AS nprobe),
       |got AS (
       |  SELECT nprobe, qid, nid FROM (
       |    SELECT l.nprobe, c.qid, c.nid,
       |      row_number() OVER (PARTITION BY l.nprobe, c.qid
       |        ORDER BY c.cos DESC, c.nid) AS rank
       |    FROM levels l JOIN cand c ON c.probe_rn <= l.nprobe) z
       |  WHERE rank <= 3),
       |scan AS (
       |  -- LEFT join + count(c.qid): a level whose probed lists hold
       |  -- ZERO candidates (reachable under the filtered sweep's label
       |  -- screen) must still emit its row with scanned = 0, exactly
       |  -- as the Spark side's unconditional per-level aggregate does
       |  SELECT l.nprobe, CAST(count(c.qid) AS BIGINT) AS scanned
       |  FROM levels l LEFT JOIN cand c ON c.probe_rn <= l.nprobe GROUP BY 1),
       |hits AS (
       |  -- levels LEFT JOIN brute (not CROSS JOIN): an EMPTY filtered
       |  -- truth (a corpus with no label-matching vectors) must still
       |  -- emit one row per nprobe with n_true = 0, exactly as the
       |  -- Spark side's ungrouped aggregate does (ADVICE r18); the
       |  -- ppm division is guarded on both engines for that case
       |  SELECT l.nprobe, count(b.qid) AS n_true,
       |    CAST(sum(CASE WHEN g.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM levels l LEFT JOIN brute b ON 1 = 1
       |  LEFT JOIN got g ON g.nprobe = l.nprobe AND g.qid = b.qid AND g.nid = b.nid
       |  GROUP BY 1)
       |SELECT CAST(s.nprobe AS BIGINT) AS nprobe, s.scanned, h.n_true, h.n_hit,
       |  CASE WHEN h.n_true = 0 THEN NULL
       |       ELSE CAST((1000000 * h.n_hit) // h.n_true AS BIGINT) END AS recall_ppm
       |FROM scan s JOIN hits h ON h.nprobe = s.nprobe
       |ORDER BY nprobe""".stripMargin

  lazy val simAnnProbeSweepSql: String =
    probeSweepSqlWith(lblCte = "", lblJoin = "",
      truthSql = SimilarityOps.simTopkBruteSql)
}
