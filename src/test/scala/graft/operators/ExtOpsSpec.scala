package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral invariants for the round-13 pipeline-extension ops —
  * properties the DuckDB oracle can't state (cross-op consistency,
  * bound/monotonicity contracts, cap behavior on adversarial input).
  */
class ExtOpsSpec extends SparkSpec {

  test("lm coverage: ppm bounded, hits never exceed bigrams, every 2+-token doc scored") {
    import spark.implicits._
    val cov = TextOps.textLmCoverage(spark, sf0001).cache()
    val bad = cov.filter($"coverage_ppm" < 0L || $"coverage_ppm" > 1000000L ||
      $"n_in_lm" > $"n_bigrams" || $"n_bigrams" <= 0L).count()
    assert(bad == 0, "coverage_ppm out of [0, 1e6] or hits > bigrams")
    val eligible = graft.Tables.documents(spark, sf0001)
      .filter(size(split($"text", " ")) >= 2).count()
    assert(cov.count() == eligible, "every doc with >= 2 tokens gets a score")
    cov.unpersist()
  }

  test("incremental dedup: keepers come from the batch and never collide with the corpus") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", md5($"text").as("key"))
    val out = DedupOps.dedupIncremental(spark, sf0001).cache()
    val batchIds = docs.filter($"source".isin("src0", "src1"))
      .select($"doc_id").as[Long].collect().toSet
    assert(out.select($"keeper").as[Long].collect().forall(batchIds),
      "every keeper must be a batch doc")
    val corpusKeys = docs.filter(!$"source".isin("src0", "src1"))
      .select($"key").distinct().as[String].collect().toSet
    assert(out.select($"key").as[String].collect().forall(k => !corpusKeys(k)),
      "no surviving batch hash may already exist in the corpus")
    out.unpersist()
  }

  test("span dedup: every reported pair verifiably shares a 12-token span") {
    import spark.implicits._
    val k = DedupOps.SpanLen
    val pairs = DedupOps.dedupSpan(spark, sf0001).cache()
    assert(pairs.count() > 0, "sf0.001 contains genuine duplicated passages")
    // recompute each pair's span sets directly from the text and
    // intersect — the op's inverted index must never invent a pair
    val spans = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= k)
      .select($"doc_id", expr(
        s"array_distinct(transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', " +
          (0 until k).map(j => s"ws[i+$j]").mkString(", ") + ")))").as("sp"))
    val checked = pairs
      .join(spans.toDF("da", "spa"), "da")
      .join(spans.toDF("db", "spb"), "db")
      .withColumn("shared", size(array_intersect($"spa", $"spb")).cast("long"))
    assert(checked.filter($"shared" < $"n_spans").count() == 0,
      "reported n_spans must be witnessed by the documents' actual spans")
    pairs.unpersist()
  }

  test("knn graph restricted to the probe set equals the per-query ANN path") {
    // sim_ann_lsh answers queries vec_id < 5 against the same buckets
    // the full graph uses, so the graph's rows for those vectors must
    // be IDENTICAL — one contract, two access shapes
    import spark.implicits._
    val graphRows = SimilarityOps.simKnnGraph(spark, sf0001)
      .filter($"qid" < 5).select($"qid", $"rank", $"nid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val annRows = SimilarityOps.simAnnLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(graphRows == annRows, "knn graph and ANN probe disagree on shared queries")
  }

  test("knn graph: ranks contiguous from 1, at most k=3 neighbors, no self-edges") {
    import spark.implicits._
    val g = SimilarityOps.simKnnGraph(spark, sf0001).cache()
    assert(g.filter($"qid" === $"nid").count() == 0)
    val perQ = g.groupBy($"qid")
      .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
    assert(perQ.filter($"n" > 3L || $"mx" =!= $"n" || $"mn" =!= 1L).count() == 0,
      "ranks must be 1..n with n <= 3")
    g.unpersist()
  }

  test("mix weights: shares sum to <= 1e6 ppm, weights capped, inverse-monotone in size") {
    import spark.implicits._
    val w = CurationOps.docMixWeights(spark, sf0001).cache()
    val sumShare = w.agg(sum($"share_ppm")).head().getLong(0)
    assert(sumShare <= 1000000L && sumShare > 900000L,
      s"integer-floor shares must sum to just under 1e6, got $sumShare")
    assert(w.filter($"weight_ppm" > CurationOps.MixUpsampleCapPpm).count() == 0)
    // a strictly larger source never gets a strictly larger weight
    val rows = w.select($"n_tokens", $"weight_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((t1, w1), (t2, w2)) =>
        assert(t1 == t2 || w2 <= w1, s"weight must not grow with size: ($t1,$w1) -> ($t2,$w2)")
      case _ => ()
    }
    w.unpersist()
  }

  test("containment catches doc-in-doc pairs that Jaccard misses") {
    import spark.implicits._
    // A = a distinctive paragraph; B = A plus a long unrelated tail.
    // Containment(A in B) = 1.0 but Jaccard is far below 1/2 — the
    // exact case the asymmetric op exists for.
    val dir = tempDir("contain")
    val para = (1 to 24).map(i => s"para$i").mkString(" ")
    val tail = (1 to 300).map(i => s"tail$i").mkString(" ")
    Seq((1L, para), (2L, s"$para $tail"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = DedupOps.dedupContainment(spark, dir)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L)), s"containment must flag the embedded doc, got $cont")
    assert(DedupOps.dedupNgramJaccard(spark, dir).count() == 0,
      "symmetric Jaccard at 1/2 must miss this pair (that's why containment exists)")
    // and on the real corpus every reported ppm respects the 80% gate
    val bad = DedupOps.dedupContainment(spark, sf0001)
      .filter($"cont_ppm" < 800000L || $"cont_ppm" > 1000000L).count()
    assert(bad == 0, "cont_ppm must lie in [0.8e6, 1e6]")
  }

  test("global shuffle: dense 0..n-1 permutation, deterministic, not id order") {
    import spark.implicits._
    val sh = CurationOps.docGlobalShuffle(spark, sf0001).cache()
    val n = graft.Tables.documents(spark, sf0001).count()
    assert(sh.count() == n, "every document gets a position")
    assert(sh.select($"doc_id").distinct().count() == n, "a permutation, no dup ids")
    val posStats = sh.agg(min($"position"), max($"position"),
      countDistinct($"position")).head()
    assert(posStats.getLong(0) == 0L && posStats.getLong(1) == n - 1 &&
      posStats.getLong(2) == n, "positions must be dense 0..n-1")
    // pure function of (seed, doc_id): a second run is byte-identical
    val again = CurationOps.docGlobalShuffle(spark, sf0001)
    assert(sh.except(again).count() == 0 && again.except(sh).count() == 0,
      "shuffle order must be reproducible")
    // and it actually shuffles: the md5 order must not be id order
    val inIdOrder = sh.filter($"position" === $"doc_id").count()
    assert(inIdOrder < n / 2, "md5 order should displace most documents")
    sh.unpersist()
  }

  test("cluster sample: per-list budget respected, picks contiguous, assignment consistent") {
    import spark.implicits._
    val sm = MlOps.simClusterSample(spark, sf0001).cache()
    val perList = sm.groupBy($"list_id")
      .agg(count(lit(1)).as("n"), max($"pick").as("mx"), min($"pick").as("mn"))
    assert(perList.filter($"n" > MlOps.ClusterSamplePerList ||
      $"mx" =!= $"n" || $"mn" =!= 1L).count() == 0,
      "each list contributes 1..n picks with n <= budget")
    assert(sm.select($"vec_id").distinct().count() == sm.count(),
      "a vector is sampled at most once")
    // each sampled vector's list_id must equal the quantizer's assignment
    val cdf = IvfKmeans.centroidFrame(spark, IvfKmeans.centroids(spark, sf0001))
    val assigned = IvfKmeans.assign(IvfKmeans.withV(spark, sf0001), cdf)
      .select($"vec_id", $"list_id".cast("long").as("true_list"))
    assert(sm.join(assigned, "vec_id")
      .filter($"list_id" =!= $"true_list").count() == 0,
      "sample must agree with the IVF assignment")
    sm.unpersist()
  }

  test("anomaly flags: exactly floor(n/100) per type, all at or above the unflagged max") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001).cache()
    val flagged = EventOps.evAnomaly(spark, sf0001).cache()
    val expect = ev.groupBy($"event_type").agg((count(lit(1)) / 100).cast("long").as("want"))
    val got = flagged.groupBy($"event_type").agg(count(lit(1)).as("got"))
    assert(expect.join(got, Seq("event_type"), "left")
      .filter(coalesce($"got", lit(0L)) =!= $"want").count() == 0,
      "flag count must be floor(n/100) per event_type")
    val minFlagged = ev.join(flagged.select($"event_id"), "event_id")
      .groupBy($"event_type").agg(min($"value").as("minf"))
    val maxUnflagged = ev.join(flagged.select($"event_id"), Seq("event_id"), "left_anti")
      .groupBy($"event_type").agg(max($"value").as("maxu"))
    assert(minFlagged.join(maxUnflagged, "event_type")
      .filter($"minf" < $"maxu").count() == 0,
      "every flagged value must be >= every unflagged value in its type")
    flagged.unpersist(); ev.unpersist()
  }

  test("quality rank: balanced deciles per source, score-monotone across deciles") {
    import spark.implicits._
    val qr = CurationOps.docQualityRank(spark, sf0001).cache()
    assert(qr.filter($"decile" < 1L || $"decile" > 10L).count() == 0)
    // NTILE balance: bucket sizes within a source differ by at most 1
    val sizes = qr.groupBy($"source", $"decile").agg(count(lit(1)).as("n"))
      .groupBy($"source").agg((max($"n") - min($"n")).as("spread"))
    assert(sizes.filter($"spread" > 1L).count() == 0, "NTILE buckets must be balanced")
    // monotone: a doc in decile k never outscores any doc in decile k-1
    val agg = qr.groupBy($"source", $"decile")
      .agg(min($"score_ppm").as("lo"), max($"score_ppm").as("hi"))
    val next = agg.select($"source", ($"decile" - 1).as("decile"), $"hi".as("next_hi"))
    assert(agg.join(next, Seq("source", "decile"))
      .filter($"lo" < $"next_hi").count() == 0,
      "decile k's max score must not exceed decile k-1's min score")
    qr.unpersist()
  }

  test("token budget: admitted set is the maximal under-budget doc_id prefix per source") {
    import spark.implicits._
    val b = CurationOps.docTokenBudget(spark, sf0001).cache()
    assert(b.filter($"cum_tokens" > CurationOps.TokenBudgetPerSource).count() == 0)
    assert(b.count() > 0, "budget must admit something on the test corpus")
    // prefix property: per source, every admitted doc_id is smaller
    // than every excluded doc_id
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").cache()
    val excluded = docs.join(b.select($"doc_id"), Seq("doc_id"), "left_anti")
    val maxIn = b.groupBy($"source").agg(max($"doc_id").as("max_in"))
    val minOut = excluded.groupBy($"source").agg(min($"doc_id").as("min_out"))
    assert(maxIn.join(minOut, "source").filter($"max_in" > $"min_out").count() == 0,
      "admitted docs must form a doc_id prefix per source")
    // maximality: the first excluded doc would overflow the budget
    val tok = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("nt"))
    val lastCum = b.groupBy($"source").agg(max($"cum_tokens").as("cum"))
    val firstOut = excluded.join(tok, "doc_id")
      .groupBy($"source").agg(min_by($"nt", $"doc_id").as("next_nt"))
    assert(lastCum.join(firstOut, "source")
      .filter($"cum" + $"next_nt" <= CurationOps.TokenBudgetPerSource)
      .count() == 0, "carve must be maximal — next doc must not fit")
    b.unpersist(); docs.unpersist()
  }

  test("cross-source syndication matrix is consistent with the span pair graph") {
    import spark.implicits._
    val xs = DedupOps.dedupCrossSource(spark, sf0001).cache()
    assert(xs.count() > 0, "sf0.001 contains cross-source shared passages")
    assert(xs.filter($"src_a" >= $"src_b" || $"n_hits" < $"n_spans" ||
      $"n_spans" <= 0L).count() == 0,
      "ordered pairs, and co-occurrences can never undercount distinct spans")
    // every cross-source doc pair that dedup_span reports must surface
    // as a row of the matrix — one index, two aggregations
    val src = graft.Tables.documents(spark, sf0001).select($"doc_id", $"source")
    val pairs = DedupOps.dedupSpan(spark, sf0001)
      .join(src.toDF("da", "s_a"), "da")
      .join(src.toDF("db", "s_b"), "db")
      .filter($"s_a" =!= $"s_b")
      .select(least($"s_a", $"s_b").as("src_a"),
        greatest($"s_a", $"s_b").as("src_b"))
      .distinct()
    assert(pairs.join(xs, Seq("src_a", "src_b"), "left_anti").count() == 0,
      "a cross-source span pair implies its source-pair matrix row")
    xs.unpersist()
  }

  test("label propagation refines connected components and fixes isolated vectors") {
    import spark.implicits._
    val lpa = GraphOps.graphxLabelProp(spark, sf0001).cache()
    val n = graft.Tables.embeddings(spark, sf0001).count()
    assert(lpa.count() == n, "every vector gets a community")
    // labels move only along edges, so an LPA community can never
    // span two connected components OF THE SAME (cosine) graph —
    // note dedupEmbeddingClusters' CC is over the LSH pair subset,
    // a finer partition, so compare against CC over the lpa edges
    import org.apache.spark.graphx.{Edge, Graph => XGraph}
    val pairs = DedupOps.dedupEmbeddingCosine(spark, sf0001).toDF("a", "b").cache()
    val eRdd = pairs.as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }
    val cc = spark.createDataFrame(
      XGraph.fromEdges(eRdd, ()).connectedComponents().vertices)
      .toDF("vec_id", "canonical")
    val split = lpa.join(cc, "vec_id").groupBy($"community")
      .agg(countDistinct($"canonical").as("n_cc"))
      .filter($"n_cc" > 1L).count()
    assert(split == 0, "an LPA community must lie inside one connected component")
    // isolated vectors (no cosine pair at all) keep their own label
    val touched = pairs.select($"a".as("vec_id"))
      .union(pairs.select($"b".as("vec_id"))).distinct()
    val iso = lpa.join(touched, Seq("vec_id"), "left_anti")
    assert(iso.filter($"community" =!= $"vec_id").count() == 0,
      "no neighbors ⇒ own label survives")
    val lpaNonIso = lpa.join(touched, "vec_id")
    assert(lpaNonIso.select($"community").distinct().count() >=
      cc.select($"canonical").distinct().count(),
      "LPA partitions at least as finely as CC on the same edges")
    lpa.unpersist(); pairs.unpersist()
  }

  test("mm pipeline: keep-one per perceptual bucket is active, shards contiguous from 0") {
    import spark.implicits._
    val out = MultimodalOps.mmPipelineE2e(spark, sf0001).cache()
    val gated = graft.Tables.documents(spark, sf0001)
      .filter(octet_length($"text".cast("binary")) >= 64).count()
    assert(out.count() > 0 && out.count() < gated,
      "the perceptual keep-one stage must actually drop bucket duplicates")
    val dupBuckets = out
      .groupBy($"width", $"height", expr("n_bytes div 64"))
      .agg(count(lit(1)).as("n")).filter($"n" > 1L).count()
    assert(dupBuckets == 0, "at most one survivor per (w, h, size) bucket")
    // shards are a contiguous 0..k run per source (cum_before div 4096)
    val bad = out.groupBy($"source")
      .agg(min($"shard").as("mn"), max($"shard").as("mx"),
        countDistinct($"shard").as("nd"))
      .filter($"mn" =!= 0L || $"nd" =!= $"mx" + 1L).count()
    assert(bad == 0, "per-source shard ids must run 0..max without gaps")
    out.unpersist()
  }

  test("encode ids: sequence length, OOV count, and id range all consistent") {
    import spark.implicits._
    val enc = TextOps.textEncodeIds(spark, sf0001)
      .withColumn("ids", split($"ids_str", " ")).cache()
    assert(enc.count() == graft.Tables.documents(spark, sf0001).count())
    assert(enc.filter(size($"ids") =!= $"n_tokens").count() == 0,
      "ids_str must hold exactly n_tokens ids")
    assert(enc.filter(
      size(filter($"ids", x => x === "0")) =!= $"n_oov").count() == 0,
      "n_oov must count exactly the zero ids")
    val maxId = enc.select(max(expr(
      "array_max(transform(ids, x -> CAST(x AS BIGINT)))"))).head().getLong(0)
    assert(maxId <= TextOps.EncodeVocab, s"ids must be <= vocab size, got $maxId")
    enc.unpersist()
  }

  test("ccnet pipeline: populated buckets, threshold-consistent, gate honors lang+bucket") {
    import spark.implicits._
    val cc = CurationOps.docCcnetE2e(spark, sf0001).cache()
    assert(cc.count() == graft.Tables.documents(spark, sf0001).count())
    val buckets = cc.select($"bucket").distinct().as[String].collect().toSet
    assert(buckets == Set("head", "middle", "tail"),
      s"all three buckets must be populated, got $buckets")
    assert(cc.filter(
      ($"bucket" === "head" && $"coverage_ppm" < CurationOps.CcnetHeadPpm) ||
      ($"bucket" === "middle" && ($"coverage_ppm" >= CurationOps.CcnetHeadPpm ||
        $"coverage_ppm" < CurationOps.CcnetMiddlePpm)) ||
      ($"bucket" === "tail" && $"coverage_ppm" >= CurationOps.CcnetMiddlePpm))
      .count() == 0, "bucket must follow the ppm thresholds")
    assert(cc.filter($"keep" === 1L &&
      ($"pred_lang" =!= "en" || $"bucket" === "tail")).count() == 0,
      "keep=1 requires target language and a non-tail bucket")
    assert(cc.filter($"keep" === 1L).count() > 0, "the gate must pass something")
    cc.unpersist()
  }

  test("approx percentile sketch lands inside the exact rank envelope on every group") {
    import spark.implicits._
    val ap = RelationalOps.qApproxPercentile(spark, sf0001)
    assert(ap.count() > 0 && ap.filter($"pct_ok" =!= 1L).count() == 0,
      "approx median must sit between the exact P40 and P60 values per group")
  }

  test("mix temperature: exact integer roots, monotone in share, flattens as alpha shrinks") {
    import spark.implicits._
    val t = CurationOps.docMixTemperature(spark, sf0001).cache()
    val Seq(aHalf, aQuarter) = CurationOps.MixTempAlphasPpm
    val half = t.filter($"alpha_ppm" === aHalf)
      .select($"source", $"share_ppm", $"temp_ppm", $"p_ppm")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val quarter = t.filter($"alpha_ppm" === aQuarter)
      .select($"source", $"share_ppm", $"temp_ppm", $"p_ppm")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(half.nonEmpty && half.length == quarter.length)
    // temp is EXACTLY the integer square root (the ±1 correction must
    // never leave a drifted value)
    half.foreach { case (_, share, tp, _) =>
      val n = share * 1000000L
      assert(tp * tp <= n && (tp + 1) * (tp + 1) > n, s"t_half not isqrt: $tp^2 vs $n")
    }
    val halfBySrc = half.map(r => r._1 -> r._3).toMap
    quarter.foreach { case (src, _, tq, _) =>
      val n = halfBySrc(src) * 1000000L
      assert(tq * tq <= n && (tq + 1) * (tq + 1) > n, s"t_quarter not isqrt of t_half")
    }
    // monotone: a larger share never gets a smaller sampling weight
    for (rows <- Seq(half, quarter); a <- rows; b <- rows if a._2 > b._2)
      assert(a._4 >= b._4, s"p_ppm must be monotone in share: $a vs $b")
    // flattening: the quarter schedule is closer to uniform than the
    // half schedule, which is closer than the raw shares
    def spread(xs: Array[(String, Long, Long, Long)], f: ((String, Long, Long, Long)) => Long) =
      xs.map(f).max - xs.map(f).min
    assert(spread(quarter, _._4) <= spread(half, _._4),
      "alpha=1/4 must be flatter than alpha=1/2")
    assert(spread(half, _._4) <= spread(half, _._2),
      "alpha=1/2 must be flatter than the raw share distribution")
    t.unpersist()
  }

  test("stream anomaly flags exactly the batch anomaly set") {
    // the two-pass threshold stream must reproduce the exact-window
    // batch flag set — one contract, two execution shapes (the same
    // pin style as knn-graph vs per-query ANN)
    import spark.implicits._
    val batch = EventOps.evAnomaly(spark, sf0001)
      .select($"event_type", $"event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val stream = EventOps.evStreamAnomaly(spark, sf0001)
      .select($"event_type", $"event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stream == batch,
      s"stream/batch disagree: only-stream=${(stream -- batch).take(5)} only-batch=${(batch -- stream).take(5)}")
  }
}
