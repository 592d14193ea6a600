package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Adversarial-corpus robustness for the document operator surface.
  * The driver regenerates testdata between rounds, so an op that
  * crashes or emits nulls on a degenerate row (empty text, one token,
  * sub-shingle length, unicode, a giant outlier) would go red without
  * any code change — these pins make the failure mode a test today
  * instead of a correctness row tomorrow.
  */
class EdgeCaseSpec extends SparkSpec {

  /** A corpus of only edge cases, with the full 5-column document
    * schema the loaders guarantee; written per test into a directory
    * that dies with the test, as do the index trees keyed by it. */
  private def edgeCorpus(): String = {
    import spark.implicits._
    val d = tempDir("edge")
    tempIndexRoot("edge_scratch")
    val big = (1 to 5000).map(i => s"tok$i").mkString(" ")
    Seq(
      (0L, "", "en", "src0", 0L),                            // empty text
      (1L, "solo", "en", "src0", 4L),                        // 1 token
      (2L, "two tokens", "en", "src1", 10L),                 // below shingle k=3
      (3L, "a b c d e f g h i j k", "en", "src1", 21L),      // 11 tokens: below span k=12
      (4L, "の 日本語 トークン と émoji ☃ mixé", "ja", "src2", 20L), // unicode
      (5L, big, "en", "src2", big.length.toLong),            // 5000-token outlier
      (6L, big, "en", "src3", big.length.toLong),            // exact dup of the outlier, other source
      (7L, "the the the the the the", "en", "src3", 23L),    // pure repetition
      (8L, null.asInstanceOf[String], "en", "src1", 0L)      // NULL text (r13 ADVICE)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // doc-aligned embeddings (dedup_report's semantic leg reads them),
    // with their own edge rows: an all-zero vector (cosine guard) and
    // a NULL embedding (signature rows drop, never NPE)
    (0 to 8).map { i =>
      val v: Array[Float] =
        if (i == 4) Array.fill(8)(0f)
        else if (i == 8) null
        else Array.tabulate(8)(j => ((i * 7 + j) % 5 - 2).toFloat)
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def assertNoNulls(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val filt = df.schema.fieldNames.map(c => col(c).isNull).reduce(_ || _)
    assert(df.filter(filt).count() == 0, s"$name emitted null columns")
  }

  test("text + curation ops survive the edge corpus without nulls or crashes") {
    val dir = edgeCorpus()
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "text_stats" -> TextOps.textStats(spark, dir),
      "text_quality" -> TextOps.textQuality(spark, dir),
      "text_langid" -> TextOps.textLangId(spark, dir),
      "text_lm_coverage" -> TextOps.textLmCoverage(spark, dir),
      "doc_mix_weights" -> CurationOps.docMixWeights(spark, dir),
      "doc_quality_rank" -> CurationOps.docQualityRank(spark, dir),
      "doc_token_budget" -> CurationOps.docTokenBudget(spark, dir),
      "doc_global_shuffle" -> CurationOps.docGlobalShuffle(spark, dir),
      "mm_pipeline_e2e" -> MultimodalOps.mmPipelineE2e(spark, dir)
    ).foreach { case (name, df) => assertNoNulls(df, name) }
  }

  test("dedup family survives the edge corpus and finds the planted cross-source dup") {
    val dir = edgeCorpus()
    import spark.implicits._
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "dedup_exact" -> DedupOps.dedupExact(spark, dir),
      "dedup_norm" -> DedupOps.dedupNorm(spark, dir),
      "dedup_ngram_jaccard" -> DedupOps.dedupNgramJaccard(spark, dir),
      "dedup_containment" -> DedupOps.dedupContainment(spark, dir),
      "dedup_span" -> DedupOps.dedupSpan(spark, dir),
      "dedup_incremental" -> DedupOps.dedupIncremental(spark, dir),
      "dedup_cross_source" -> DedupOps.dedupCrossSource(spark, dir),
      "dedup_minhash_lsh" -> DedupOps.dedupMinhashLsh(spark, dir),
      "dedup_simhash" -> DedupOps.dedupSimhash(spark, dir)
    ).foreach { case (name, df) => assertNoNulls(df, name) }
    // the planted outlier dup (docs 5 and 6, sources src2/src3) must
    // surface in every pair generator that can see it
    assert(DedupOps.dedupExact(spark, dir).filter($"n_dups" === 2L).count() == 1)
    assert(DedupOps.dedupSpan(spark, dir)
      .filter($"da" === 5L && $"db" === 6L).count() == 1)
    assert(DedupOps.dedupContainment(spark, dir)
      .filter($"da" === 5L && $"db" === 6L).count() == 1)
    assert(DedupOps.dedupCrossSource(spark, dir)
      .filter($"src_a" === "src2" && $"src_b" === "src3").count() == 1)
  }

  test("round-17 ops survive the edge corpus") {
    val dir = edgeCorpus()
    // single-class gopher labels, empty-text query doc, unicode
    // tokens, a 5000-token outlier, NULL text/embedding rows — none
    // may crash or emit nulls
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "doc_quality_nb" -> CurationOps.docQualityNb(spark, dir),
      "doc_quality_nb_eval" -> CurationOps.docQualityNbEval(spark, dir),
      "doc_dsir_select" -> CurationOps.docDsirSelect(spark, dir),
      "doc_pack_efficiency" -> CurationOps.docPackEfficiency(spark, dir),
      "doc_rag_prf" -> CurationOps.docRagPrf(spark, dir),
      "doc_rag_refit" -> CurationOps.docRagRefit(spark, dir)
    ).foreach { case (name, df) => assertNoNulls(df, name) }
  }

  test("round-15 ops survive the edge corpus") {
    val dir = edgeCorpus()
    import spark.implicits._
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "text_repetition_remove" -> TextOps.textRepetitionRemove(spark, dir),
      "mm_dedup_near" -> MultimodalOps.mmDedupNear(spark, dir),
      "dedup_report" -> DedupOps.dedupReport(spark, dir),
      "dedup_stream_incremental" -> DedupOps.dedupStreamIncremental(spark, dir),
      "doc_rag_e2e" -> CurationOps.docRagE2e(spark, dir),
      "doc_rag_recall" -> CurationOps.docRagRecall(spark, dir)
    ).foreach { case (name, df) => assertNoNulls(df, name) }
    // pure-repetition doc 7 ("the" × 6): grams 1-3 are all repeats of
    // gram 0, and their overlapping windows cover positions 1-5 — the
    // run collapses to its single first token (the Gopher-style
    // outcome for a self-repeating run)
    val rep = TextOps.textRepetitionRemove(spark, dir)
      .filter($"doc_id" === 7L).collect()(0)
    assert(rep.getLong(2) == 5L)
    assert(rep.getString(3) ==
      spark.sql("SELECT md5('the')").head.getString(0))
    // NULL-text doc 8 is excluded everywhere (family-wide guard)
    assert(TextOps.textRepetitionRemove(spark, dir).filter($"doc_id" === 8L).count() == 0)
    // the planted exact dup (5, 6) shares every perceptual field →
    // must surface as a media near-dup pair
    assert(MultimodalOps.mmDedupNear(spark, dir)
      .filter($"da" === 5L && $"db" === 6L).count() == 1)
  }

  test("degenerate docs fall out of the admissible sets, never crash them") {
    val dir = edgeCorpus()
    import spark.implicits._
    // empty + 1-token docs have no bigrams → excluded from LM coverage
    val cov = TextOps.textLmCoverage(spark, dir)
    assert(cov.filter($"doc_id".isin(0L, 1L)).count() == 0)
    // sub-span-length docs emit no span candidates
    assert(DedupOps.dedupSpan(spark, dir)
      .filter($"da" === 3L || $"db" === 3L).count() == 0)
    // the shuffle still covers every doc with an id, including the
    // empty-text and NULL-text ones (the key is doc_id-derived)
    assert(CurationOps.docGlobalShuffle(spark, dir).count() == 9)
    // NULL-text doc is excluded from token-weighted admission sets on
    // BOTH engines (the guards added for the r13 ADVICE), not admitted
    // with a poisoned -1 token count
    assert(CurationOps.docTokenBudget(spark, dir).filter($"doc_id" === 8L).count() == 0)
    assert(CurationOps.docQualityRank(spark, dir).filter($"doc_id" === 8L).count() == 0)
    // encode_ids surfaces it as an empty encoding rather than dropping it
    val enc = TextOps.textEncodeIds(spark, dir).filter($"doc_id" === 8L).collect()
    assert(enc.length == 1 && enc(0).getLong(1) == 0L && enc(0).getString(3) == "")
    // the 5000-token outlier blows the per-source token budget alone:
    // later docs in its source may still land if earlier by doc_id —
    // the carve just must not crash and must respect the cap
    assert(CurationOps.docTokenBudget(spark, dir)
      .filter($"cum_tokens" > CurationOps.TokenBudgetPerSource).count() == 0)
  }
}
