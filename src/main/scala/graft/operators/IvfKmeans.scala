package graft.operators

import graft.Tables._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible k-means for the IVF ANN
  * index (round-8 verdict #3): md5-ranked seed rows + a FIXED number
  * of Lloyd rounds with centroids quantized to 6 decimals after every
  * mean — the same determinism contract that makes the LSH family
  * hash-exact ([[graft.functions.Md5Bits.planeSigns]]). Quantizing the
  * centroids collapses the two engines' summation-order ulp wobble
  * onto one canonical value, so assignments — which compare exact
  * doubles derived from identical inputs in identical index order —
  * agree bit-for-bit and DuckDB can replay the whole fit as SQL.
  *
  * Scale posture: centroids are a k-row driver-side artifact at any
  * corpus size (they ARE the IVF index's coarse quantizer); each Lloyd
  * round is one distributed job — broadcast the k centroids, map-side
  * partial-aggregate the per-coordinate sums — and the fit runs ONCE
  * per corpus (driver-side model cache), not once per query, which is
  * the index-build-vs-query split a real ANN service has.
  */
object IvfKmeans {

  val K = 16
  val Rounds = 4

  /** Fitted centroids by their on-disk artifact's path
    * ([[centroidPath]]: corpus dir, tag and source-file fingerprint).
    * An IVF coarse quantizer is an index artifact, built once per
    * corpus; queries must not re-fit (round-8 verdict: "training
    * belongs to index build only"), and a corpus rewritten in place is
    * a new key. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def memo(s: SparkSession, d: String, tag: String, input: => DataFrame,
      fpTable: String = "embeddings"): Array[Array[Double]] =
    cache.computeIfAbsent(centroidPath(s, d, tag, fpTable), loadOrFit(s, _, input))

  def centroids(s: SparkSession, d: String): Array[Array[Double]] =
    memo(s, d, "ivf", withV(s, d).select(col("vec_id"), col("v")))

  /** Fit (or load) the same deterministic quantizer on an ARBITRARY
    * keyed vector frame — (vec_id, v) — under its own cache tag: the
    * generic index-build entry point ([[graft.operators.CurationOps]]
    * fits on unit-normalized CHUNK vectors through here, because an
    * IVF quantizer only partitions well the distribution it was fit
    * on). `fpTable` names the source table whose file fingerprint
    * keys the on-disk artifact (the corpus file the vectors actually
    * derive from). */
  def centroidsFor(s: SparkSession, d: String, tag: String,
      input: DataFrame, fpTable: String): Array[Array[Double]] =
    memo(s, d, tag, input, fpTable)

  /** PQ codebook for subspace `m` of [[MlOps.simAnnPq]]: the same
    * deterministic fit, run on a `subDim`-wide slice of the unit-
    * normalized vector — an index artifact exactly like the IVF
    * coarse quantizer (fit once per corpus, disk-persisted, never
    * re-fit per query). */
  def pqCodebook(s: SparkSession, d: String, m: Int, subDim: Int): Array[Array[Double]] =
    memo(s, d, s"pq${m}x$subDim", withUnitV(s, d).select(col("vec_id"),
      expr(s"slice(v, ${m * subDim + 1}, $subDim)").as("v")))

  /** [[withV]] unit-L2-normalized (guarded against zero vectors), so
    * squared L2 is 2·(1−cos) and PQ's distance quantization ranks the
    * same way the exact-cosine contract does. sqrt and division are
    * correctly-rounded IEEE ops on identical inputs — both engines
    * produce bit-identical normalized coordinates. */
  def withUnitV(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withV(s, d)
      .withColumn("nrm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
      .select($"vec_id", $"embedding",
        expr("CASE WHEN nrm > 0D THEN transform(v, x -> x / nrm) ELSE v END").as("v"))
  }

  /** On-disk centroid cache path for corpus `d`, under the same
    * configurable root as the list-partitioned index (shared storage
    * on a cluster, tmpdir on local[k]). Keyed by the corpus dir PLUS a
    * fingerprint of the embeddings files (name, length, mtime): when
    * the corpus is rewritten in place — the driver regenerates testdata
    * at the same path every round — the key changes and the stale
    * artifact is simply never found, instead of silently feeding wrong
    * assignments to every IVF op. */
  private def centroidPath(s: SparkSession, d: String, tag: String,
      fpTable: String = "embeddings"): String = {
    val fingerprint =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$d/$fpTable.parquet")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(p).sortBy(_.getPath.toString)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .mkString("|")
      } catch { case scala.util.control.NonFatal(_) => "nofp" }
    scratch(s, s"centroids_$tag", s"$d#$fingerprint")
  }

  /** Fitting kmeans is the whole cold cost of the IVF ops (round-12
    * bench: 5.5 s cold vs 0.89 s warm on sim_ann_ivf), and the fit is
    * deterministic per corpus — so persist the quantized centroids as
    * a k-row parquet beside the index and load them on any later cold
    * call (new JVM, same corpus). A missing/corrupt/wrong-cardinality
    * artifact falls back to a fresh fit. */
  private def loadOrFit(s: SparkSession, path: String, input: DataFrame): Array[Array[Double]] = {
    val loaded: Option[Array[Array[Double]]] =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val rows = s.read.parquet(path).orderBy("list_id").collect()
          val cs = rows.map(_.getSeq[Double](1).toArray)
          if (cs.length == K && cs.forall(_.length == cs.head.length)) Some(cs)
          else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    loaded.getOrElse {
      val cents = fit(s, input)
      try centroidFrame(s, cents).coalesce(1)
        .write.mode("overwrite").parquet(path)
      catch { case scala.util.control.NonFatal(e) =>
        // non-fatal: the fit succeeded, only the cold-start shortcut
        // is lost — but say so rather than silently re-fitting forever
        System.err.println(s"graft: failed to persist IVF centroids to $path: $e")
      }
      cents
    }
  }

  /** The embeddings table with `v` = exactly-widened double vector
    * (float→double widening is exact, so both engines start from
    * identical doubles). */
  def withV(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withVOf(embeddings(s, d).select($"vec_id", $"embedding"))
  }

  /** Append the exactly-widened double vector `v` to any frame
    * carrying an `embedding` column — ONE definition of the widening
    * (a drift here changes every list assignment), so payload-carrying
    * variants ([[graft.operators.MlOps.simAnnFiltered]]) share it. */
  def withVOf(e: DataFrame): DataFrame =
    e.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))

  /** Squared distance to every centroid: broadcast the k-row centroid
    * table, accumulate (x-y)² in index order — the same sequential
    * double accumulation DuckDB's list_sum performs on the zipped
    * list, so distances are bit-identical across engines. The loop is
    * the native [[graft.functions.SqDist]] kernel (round-15: the
    * interpreted aggregate(zip_with(…)) lambda dominated the corpus×k
    * assignment scan once the chunk index grew to sf0.1 size). */
  def withDists(e: DataFrame, cdf: DataFrame): DataFrame = {
    e.crossJoin(broadcast(cdf))
      .withColumn("dist", GraftFunctions.column("sq_dist", col("v"), col("c")))
  }

  /** (vec_id, list_id): nearest centroid, ties to the lowest list id.
    * min_by keeps the aggregation partial (map-side) — no row blowup
    * survives the shuffle, unlike a rank-over-window formulation. */
  def assign(e: DataFrame, cdf: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    withDists(e, cdf)
      .groupBy($"vec_id")
      .agg(min_by($"list_id", struct($"dist", $"list_id")).as("list_id"))
  }

  /** Nearest-centroid id as a pure PROJECTION — zero shuffles. The
    * quantizer is a driver-side model artifact (k×dim doubles), so the
    * argmin over it is a per-row expression: embed the centroids as an
    * array literal, compute [[graft.functions.SqDist]] to each, and
    * take the struct-min of (dist, list_id) — the SAME (dist, list_id)
    * ordering [[assign]]'s min_by uses and the SAME kernel, so the
    * result is bit-identical while the 16× crossJoin row inflation,
    * the partial aggregate, and the shuffle all disappear. Encoding a
    * vector against M codebooks becomes M such columns in ONE
    * projection in the scan's stage, where the frame-based formulation
    * cost M shuffled aggregations + M−1 joins to reassemble. */
  def assignCol(cents: Array[Array[Double]], v: Column): Column = {
    val mat = typedLit(cents.map(_.toSeq).toSeq)
    val dists = transform(mat, c => GraftFunctions.column("sq_dist", v, c))
    // array_position returns the FIRST index holding the min — ties go
    // to the lowest list id, the same contract as min_by's
    // (dist, list_id) struct ordering; the min IS an element, so the
    // double equality is bitwise-exact
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Centroid literal frame (driver-side Seq → broadcast hint is
    * allowed by the ScaleSpec rule: only data-derived sets must not
    * carry hints). */
  def centroidFrame(s: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF("list_id", "c")
  }

  private def fit(s: SparkSession, input: DataFrame): Array[Array[Double]] = fitOn(s, input, K)

  /** The same deterministic fit at an ARBITRARY k — the sub-quantizer
    * entry point for list-split maintenance
    * ([[MlOps.simAnnIvfBalance]] refits k'=2 inside each oversized
    * list): md5-ranked seeds, the fixed Lloyd rounds, 6-decimal mean
    * quantization, empty clusters carrying their previous centroid —
    * one fit contract repo-wide, so the DuckDB replay of a sub-fit is
    * the SAME CTE shape as the main quantizer's. */
  /** [[fitOn]] for several DISJOINT groups at once — one deterministic
    * k-means per group, all groups advancing through the SAME Spark
    * jobs: seeds come from one window pass (k smallest
    * (md5(vec_id), vec_id) per group — exactly [[fitOn]]'s
    * orderBy/limit draw), and each Lloyd round is ONE grouped
    * aggregate over every group's rows (each row assigned with its own
    * group's centroids via [[assignColGrouped]], means keyed by
    * (gid, sub, i), 6-decimal quantization and empty-cluster
    * carry-over as in [[fitOn]]). Value-identical to calling [[fitOn]]
    * once per group, but a maintenance pass splitting H hot lists pays
    * 1 + [[Rounds]] jobs ONCE instead of H times
    * ([[MlOps.simAnnIvfBalance]] / the balance-probe meter ran 5H
    * jobs of sub-fits before this). Input: (gid, vec_id, v). */
  def fitOnGrouped(s: SparkSession, input: DataFrame, k: Int,
      gids: Seq[Int]): Map[Int, Array[Array[Double]]] = {
    // one group degenerates to fitOn exactly (and measured ~0.5 s
    // FASTER at sf0.1: the grouped seed pass is a window shuffle where
    // fitOn's orderBy/limit is a cheap TakeOrdered) — the grouped path
    // is for H > 1, where it collapses 5·H fit jobs to 5
    if (gids.sizeIs == 1)
      return Map(gids.head -> fitOn(s,
        input.select(col("vec_id"), col("v")), k))
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = input.cache()
    val wg = Window.partitionBy(col("gid"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    var cents: Map[Int, Array[Array[Double]]] = e
      .withColumn("rn", row_number().over(wg)).filter(col("rn") <= k)
      .select(col("gid"), col("rn"), col("v")).collect()
      .groupBy(_.getInt(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }
    for (_ <- 1 to Rounds) {
      val means = e
        .select(col("gid"),
          assignColGrouped(cents, col("gid"), col("v")).as("sub"),
          posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("gid"), col("sub"), col("i"))
        .agg(round(avg(col("x")), 6).as("cx"))
        .collect()
      val byG = means.groupBy(_.getInt(0))
      cents = cents.map { case (g, old) =>
        val byList = byG.getOrElse(g, Array.empty).groupBy(_.getInt(1))
        g -> old.zipWithIndex.map { case (oc, lid) =>
          byList.get(lid) match {
            case Some(rows) => rows.sortBy(_.getInt(2)).map(_.getDouble(3))
            case None => oc
          }
        }
      }
    }
    e.unpersist()
    cents
  }

  /** Per-group assignment over [[fitOnGrouped]]'s result: group g's
    * rows are assigned with g's own centroids (a when-chain over the
    * handful of groups — group count is bounded by K in every
    * caller). */
  def assignColGrouped(
      cents: Map[Int, Array[Array[Double]]], gid: Column, v: Column): Column =
    coalesce(cents.keys.toSeq.sorted.map(g =>
      when(gid === g, assignCol(cents(g), v))): _*)

  def fitOn(s: SparkSession, input: DataFrame, k: Int): Array[Array[Double]] = {
    import s.implicits._
    val e = input.cache()
    // seeds: the k rows with the smallest md5(vec_id) — a deterministic
    // "random" draw any engine reproduces with its own md5()
    var cents: Array[Array[Double]] = e
      .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(k)
      .select($"v").collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to Rounds) {
      // per-coordinate mean, quantized to 6 decimals (see class doc);
      // k×dim rows — collected because the quantizer IS driver-sized.
      // assignment is the map-side assignCol projection, so each Lloyd
      // round is ONE shuffle (the mean aggregate), not three stages
      val means = e
        .select(assignCol(cents, $"v").as("list_id"),
          posexplode($"v").as(Seq("i", "x")))
        .groupBy($"list_id", $"i").agg(round(avg($"x"), 6).as("cx"))
        .collect()
      val byList = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, lid) =>
        byList.get(lid) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2))
          // empty cluster keeps its previous centroid, like the SQL
          // oracle's COALESCE carry-over
          case None => old
        }
      }
    }
    e.unpersist()
    cents
  }
}
