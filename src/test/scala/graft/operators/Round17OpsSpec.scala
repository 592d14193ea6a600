package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression pins for the round-17 advice fixes: the streamed RAG
  * serve path over a directory-layout documents table, NULL-source
  * docs in the append lifecycle, and the dedup-report cache release
  * hook. */
class Round17OpsSpec extends SparkSpec {

  /** A small synthetic corpus written in the DIRECTORY layout (what
    * Spark itself writes — part files under `documents.parquet/`),
    * as opposed to the driver testdata's single-file layout. The
    * index trees keyed by it die with the calling test. */
  private def writeDirLayoutDocs(withNullSource: Boolean): String = {
    import spark.implicits._
    val dir = tempDir("r17docs")
    tempIndexRoot("r17docs_scratch")
    val words = Seq("alpha", "beta", "gamma", "delta", "omega", "kappa")
    val docs = (0L until 40L).map { i =>
      val text = (0 until 24)
        .map(j => words(((i + j) % words.size).toInt)).mkString(" ")
      val src = if (withNullSource && i == 7L) null
                else if (i % 5 == 0) "src0" else s"src${i % 3 + 2}"
      (i, text, src)
    }
    docs.toDF("doc_id", "text", "source")
      .repartition(3) // force multiple part files
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("rag stream serves from a directory-layout documents table") {
    // before the fix, pathGlobFilter 'documents.parquet' matched zero
    // part files in this layout, no batch fired, and the op threw on
    // the never-created serve dir (or silently returned a stale log)
    val dir = writeDirLayoutDocs(withNullSource = false)
    val streamed = CurationOps.docRagStream(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = CurationOps.docRagE2e(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("rag index append keeps NULL-source docs in the base corpus") {
    import spark.implicits._
    val dir = writeDirLayoutDocs(withNullSource = true)
    val out = CurationOps.docRagIndexAppend(spark, dir)
    // doc 7 has source = NULL: it is not part of the arriving batch,
    // so it must be indexed with the base corpus — a bare NOT IN on
    // source silently dropped it from both sides of the split
    val nullDocChunks = out.filter($"doc_id" === 7L).count()
    val expected = CurationOps.docChunk(spark, dir)
      .filter($"doc_id" === 7L).count()
    assert(expected > 0L)
    assert(nullDocChunks == expected)
    // and the index still covers every chunk exactly once
    assert(out.count() == CurationOps.docChunk(spark, dir).count())
  }

  test("ivf+pq: candidates come only from probed lists; contract shape holds") {
    import spark.implicits._
    val out = MlOps.simAnnIvfPq(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 5 queries × top-3, ranks dense from 1
    assert(out.map(_._1).distinct.sorted.toSeq == (0L to 4L))
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 3L), s"query $q ranks")
    }
    // every returned neighbor's coarse list is one of its query's
    // probed lists — the pruning contract that makes IVF+PQ an IVF
    val e = graft.operators.IvfKmeans.withUnitV(spark, sf0001)
    val cdf = graft.operators.IvfKmeans.centroidFrame(spark,
      graft.operators.IvfKmeans.centroidsFor(spark, sf0001, "ivfpq",
        e.select($"vec_id", $"v"), fpTable = "embeddings"))
    val lists = graft.operators.IvfKmeans.assign(e.select($"vec_id", $"v"), cdf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probed = graft.operators.IvfKmeans.withDists(
        e.filter($"vec_id" < 5), cdf)
      .select($"vec_id", $"list_id", $"dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.sortBy(r => (r._3, r._2)).take(2).map(_._2).toSet }
    out.foreach { case (q, _, nid) =>
      assert(probed(q).contains(lists(nid)),
        s"neighbor $nid of query $q outside probed lists ${probed(q)}")
    }
  }

  test("hybrid rag: every fused row traces to a leg; both legs influence") {
    import spark.implicits._
    val fused = CurationOps.docRagHybrid(spark, sf0001).cache()
    val rows = fused.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).distinct.sorted.toSeq == (0L to 4L))
    // rrf scores decode to the defining leg combinations: with k=60
    // and depth 3, each leg contributes one of {16393, 16129, 15873}
    // (⌊10⁶/61..63⌋) or 0 — every fused score must be a sum of one or
    // two such terms, i.e. the row came from a real leg rank, not from
    // arithmetic drift
    val leg = Set(1000000L / 61, 1000000L / 62, 1000000L / 63)
    val valid = leg ++ (for (a <- leg; b <- leg) yield a + b)
    rows.foreach { case (q, rank, doc, _, rrf) =>
      assert(valid.contains(rrf), s"q$q rank$rank doc$doc rrf=$rrf not a leg sum")
    }
    // at least one row fused from BOTH legs (a two-leg sum exceeds any
    // single-leg score) — a hybrid where no row ever fuses means a
    // dead leg
    assert(rows.exists(_._5 > 1000000L / 61), "no row fused from both legs")
    fused.unpersist()
  }

  test("streaming near-dup screen equals the batch screen, and flags real dups") {
    val dir = writeDirLayoutDocs(withNullSource = false)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = rows(DedupOps.dedupNearIncremental(spark, dir))
    // the synthetic corpus repeats 6 text patterns across sources, so
    // src0 (batch) docs are near-dups of corpus docs by construction
    assert(batch.nonEmpty, "screen flagged nothing on a corpus with dups")
    val streamed = rows(DedupOps.dedupStreamNear(spark, dir))
    assert(streamed == batch)
    DedupOps.releaseCaches()
  }

  test("streaming index append equals the batch append row-for-row") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = rows(CurationOps.docRagStreamAppend(spark, sf0001))
    val batch = rows(CurationOps.docRagIndexAppend(spark, sf0001))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("index delete removes exactly the takedown docs, in place") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val after = rows(CurationOps.docRagIndexDelete(spark, sf0001))
    val before = rows(CurationOps.docRagIndexAppend(spark, sf0001))
    val mod = CurationOps.RagTakedownMod; val res = CurationOps.RagTakedownRes
    assert(before.exists(t => t._1 % mod == res)) // takedown set non-empty
    assert(after == before.filterNot(t => t._1 % mod == res))
  }

  test("refit migration matrix conserves chunks and is k-bounded") {
    import spark.implicits._
    val m = CurationOps.docRagRefit(spark, sf0001).cache()
    // every chunk appears exactly once somewhere in the matrix
    assert(m.agg(sum($"n_chunks")).head.getLong(0)
      == CurationOps.docChunk(spark, sf0001).count())
    // k x k bounded regardless of corpus size
    assert(m.count() <= 16L * 16L)
    m.unpersist()
  }

  test("NB quality classifier generalizes to the held-out fold") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull).count()
    val scored = CurationOps.docQualityNb(spark, sf0001).cache()
    assert(scored.count() == docs) // every non-NULL-text doc is scored
    assert(scored.filter($"pred" =!= 0L && $"pred" =!= 1L).isEmpty)
    scored.unpersist()
    val m = CurationOps.docQualityNbEval(spark, sf0001).collect()
    assert(m.length <= 4) // 2x2-bounded regardless of corpus size
    val total = m.map(_.getLong(2)).sum
    val agree = m.filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(2)).sum
    // the model must actually have learned the gate, not memorized it:
    // held-out agreement with the gopher pseudo-labels well above chance
    assert(agree * 5L >= total * 4L, s"held-out agreement $agree/$total < 0.8")
  }

  test("NB calibration: low score deciles drop-labeled, high deciles keep-labeled") {
    import spark.implicits._
    val cal = CurationOps.docQualityNbCalibration(spark, sf0001)
      .groupBy($"decile")
      .agg(sum($"n_docs").as("n"), sum($"n_label_keep").as("k"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def frac(ds: Seq[Long]) = {
      val (n, k) = ds.flatMap(cal.get).unzip
      k.sum.toDouble / n.sum
    }
    // the score must be monotonically informative: bottom 3 deciles
    // mostly drop-labeled, top 3 mostly keep-labeled
    assert(frac(Seq(1L, 2L, 3L)) < 0.3, cal.toString)
    assert(frac(Seq(8L, 9L, 10L)) > 0.7, cal.toString)
  }

  test("PRF retrieval: k-bounded per query, score-monotone, own-doc excluded") {
    import spark.implicits._
    val r = CurationOps.docRagPrf(spark, sf0001).cache()
    val per = r.groupBy($"qid").agg(count(lit(1)).as("n"), max($"rank").as("mx"))
    assert(per.filter($"n" > 3L || $"mx" > 3L).isEmpty)
    assert(r.filter($"doc_id" === $"qid").isEmpty) // never retrieves the query's own doc
    // score non-increasing in rank within each query
    val bad = r.as("a").join(r.as("b"),
      $"a.qid" === $"b.qid" && $"a.rank" + 1L === $"b.rank")
      .filter($"a.score" < $"b.score").count()
    assert(bad == 0L)
    r.unpersist()
  }

  test("pack-efficiency table: seat counts exact, pad monotone in L") {
    import spark.implicits._
    val t = CurationOps.docPackEfficiency(spark, sf0001).cache()
    // pack_seqs is exactly ceil(total/L)
    assert(t.filter(
      $"pack_seqs" * $"seq_len" < $"total_tokens" ||
      ($"pack_seqs" - 1L) * $"seq_len" >= $"total_tokens").isEmpty)
    // docs are 20-120 tokens: L=64 must clip somewhere, L>=128 never
    assert(t.filter($"seq_len" === 64L && $"trunc_clip_ppm" > 0L).count() > 0)
    assert(t.filter($"seq_len" >= 128L && $"trunc_clip_ppm" > 0L).isEmpty)
    // truncation padding waste grows with L within every source
    val inv = t.as("a").join(t.as("b"),
      $"a.source" === $"b.source" && $"a.seq_len" * 2L === $"b.seq_len")
      .filter($"a.trunc_pad_ppm" > $"b.trunc_pad_ppm").count()
    assert(inv == 0L)
    t.unpersist()
  }

  test("streamed NB scoring equals the batch classifier, incl dir layout") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(CurationOps.docStreamQualityNb(spark, sf0001))
      == rows(CurationOps.docQualityNb(spark, sf0001)))
    // dir-layout corpus: multiple part files, single-class labels
    // (every doc fails the gopher wordcount rule) — the degenerate fit
    // must still score, not divide by zero
    val dir = writeDirLayoutDocs(withNullSource = false)
    assert(rows(CurationOps.docStreamQualityNb(spark, dir))
      == rows(CurationOps.docQualityNb(spark, dir)))
  }

  test("DSIR selects exactly the per-source top fifth, rank-monotone") {
    import spark.implicits._
    val sel = CurationOps.docDsirSelect(spark, sf0001).cache()
    val perSrc = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull).groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = sel.groupBy($"source").agg(
        count(lit(1)).as("n"), max($"rank").as("mx")).collect()
    got.foreach { r =>
      val want = (perSrc(r.getString(0)) + 4) / 5 // ceil(n/5)
      assert(r.getLong(1) == want && r.getLong(2) == want)
    }
    // weights non-increasing in rank within each source
    val bad = sel.as("a").join(sel.as("b"),
      $"a.source" === $"b.source" && $"a.rank" + 1L === $"b.rank")
      .filter($"a.dsir_w" < $"b.dsir_w").count()
    assert(bad == 0L)
    sel.unpersist()
  }

  test("streaming scd2 merge equals the batch dimension, multi-batch") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val streamed = EventOps.evStreamScd2(spark, sf0001)
    // the replay really was multi-batch: >1 ten-day slice exists
    val nSlices = graft.Tables.events(spark, sf0001)
      .select(floor(unix_timestamp($"ts") / (10L * 86400))).distinct().count()
    assert(nSlices > 1)
    assert(rows(streamed) == rows(EventOps.evScd2(spark, sf0001)))
  }

  test("media stream ingest admits only novel content, one keeper per digest") {
    import spark.implicits._
    val admitted = MultimodalOps.mmStreamIngest(spark, sf0001).cache()
    assert(admitted.count() > 0)
    // nothing already in the ingested corpus is re-admitted
    val corpusShas = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull)
      .filter(!$"source".isInCollection(DedupOps.IncrementalBatchSources))
      .select(sha2($"text".cast("binary"), 256).as("content_sha")).distinct()
    assert(admitted.join(corpusShas, "content_sha").count() == 0)
    // one row per digest, keeper is the minimum arriving id
    assert(admitted.groupBy($"content_sha").count().filter($"count" > 1).count() == 0)
    admitted.unpersist()
  }

  test("sq8: symmetric code distance retrieves near-exact top-3") {
    import spark.implicits._
    val out = MlOps.simAnnSq8(spark, sf0001).collect()
    assert(out.length == 15) // 5 queries x top-3
    val rec = MlOps.simAnnSq8Recall(spark, sf0001)
      .agg(sum($"n_hit"), sum($"n_true")).head()
    // pure quantization error (no probe misses): overall recall >= 2/3
    assert(rec.getLong(0) * 3 >= rec.getLong(1) * 2)
  }

  test("span scrub: shared boilerplate excised; full scrub hashes the empty string") {
    import spark.implicits._
    val dir = tempDir("scrub")
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ") // one 12-token span
    // docs 0-2 are the bare span (fully scrubbed once shared by >2
    // docs); doc 3 embeds it in unique text; doc 4 is clean
    Seq(
      (0L, boiler, "s0"), (1L, boiler, "s0"), (2L, boiler, "s1"),
      (3L, s"unique head $boiler unique tail", "s1"),
      (4L, "no shared content here at all padded to twelve tokens ok", "s2"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.textSpanScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    assert(out(0L) == ((12L, 12L, emptyMd5)))
    assert(out(1L) == ((12L, 12L, emptyMd5)))
    assert(out(2L) == ((12L, 12L, emptyMd5)))
    // doc 3: the embedded span is excised, the unique text survives —
    // all 12-token windows overlapping the boilerplate start positions
    // are NOT boilerplate themselves (df=1), so only the span goes
    assert(out(3L)._1 == 16L && out(3L)._2 == 12L)
    assert(out(4L)._2 == 0L)
  }

  test("releaseCaches drops the report's tokenization + generator caches") {
    spark.catalog.clearCache() // isolate from other suites' residue
    val rep = DedupOps.dedupReport(spark, sf0001)
    assert(rep.count() > 0)
    // the shared toks InMemoryRelation (and the generators' capped
    // shingle/signature sets) are resident after consumption — that is
    // the documented contract (lazy for AQE)
    assert(!spark.sharedState.cacheManager.isEmpty)
    DedupOps.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty)
    // idempotent
    DedupOps.releaseCaches()
  }
}
