package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the round-15 additions: the RAG retrieval pipeline,
  * the six-family dedup report, streaming incremental dedup parity,
  * repetition removal, and the media near-dup pair generator. */
class Round15OpsSpec extends SparkSpec {

  test("rag e2e: dense ranks, topk bound, and retrieved chunks exist in doc_chunk") {
    import spark.implicits._
    val out = CurationOps.docRagE2e(spark, sf0001).cache()
    assert(out.count() > 0)
    // per query: at most RagTopK rows, ranks dense from 1
    val perQ = out.groupBy($"qid").agg(count(lit(1)).as("n"),
      min($"rank").as("lo"), max($"rank").as("hi"))
    assert(perQ.filter($"n" > CurationOps.RagTopK || $"lo" =!= 1L || $"hi" =!= $"n")
      .count() == 0)
    // every retrieved (doc_id, chunk_id) is a real chunk of the corpus
    val chunks = CurationOps.docChunk(spark, sf0001).select($"doc_id", $"chunk_id")
    assert(out.select($"doc_id", $"chunk_id")
      .join(chunks, Seq("doc_id", "chunk_id"), "left_anti").count() == 0)
    out.unpersist()
  }

  test("rag recall: probed retrieval recalls most of the brute-force truth") {
    import spark.implicits._
    val rec = CurationOps.docRagRecall(spark, sf0001).cache()
    assert(rec.count() == 5) // one row per query doc
    // every query reports a full truth set and a sane ppm
    assert(rec.filter($"n_true" =!= CurationOps.RagTopK).count() == 0)
    assert(rec.filter($"recall_ppm" < 0L || $"recall_ppm" > 1000000L).count() == 0)
    // regression floor for the 4-of-16 probe: avg 0.80 measured on the
    // current draw, but the driver REGENERATES testdata between rounds
    // and recall depends on the corpus's near-tie structure — pin well
    // below the expected band (a broken index/probe scores ~1/4 by
    // chance, a working one has always measured ≥ 0.6) so only real
    // breakage, not a corpus redraw, can redden this
    val meanPpm = rec.agg(avg($"recall_ppm")).head.getDouble(0)
    assert(meanPpm >= 340000.0, s"avg recall_ppm $meanPpm below regression floor")
    rec.unpersist()
  }

  test("rag index: the on-disk list-partitioned layout does not change the answer") {
    val mem = CurationOps.docRagE2e(spark, sf0001)
    val disk = CurationOps.docRagIndex(spark, sf0001)
    assert(disk.count() == mem.count())
    assert(disk.exceptAll(mem).isEmpty && mem.exceptAll(disk).isEmpty)
  }

  test("dedup report: one row per source, flag counts bounded and span column cross-checks") {
    import spark.implicits._
    val out = DedupOps.dedupReport(spark, sf0001).cache()
    val srcs = graft.Tables.documents(spark, sf0001)
      .select($"source").distinct().count()
    assert(out.count() == srcs)
    // every family count is within [0, n_docs]
    for (c <- Seq("n_span_dup", "n_prefix_dup", "n_jaccard_dup",
        "n_simhash_dup", "n_minhash_dup", "n_winnow_dup"))
      assert(out.filter(col(c) < 0L || col(c) > $"n_docs").count() == 0, c)
    // the span column IS the span generator's flagged-doc count per source
    val flagged = DedupOps.dedupSpan(spark, sf0001)
      .select($"da".as("doc_id")).union(
        DedupOps.dedupSpan(spark, sf0001).select($"db".as("doc_id")))
      .distinct()
      .join(graft.Tables.documents(spark, sf0001).select($"doc_id", $"source"), "doc_id")
      .groupBy($"source").agg(count(lit(1)).as("expect"))
    val bad = out.join(flagged, Seq("source"), "left")
      .filter(coalesce($"expect", lit(0L)) =!= $"n_span_dup")
    assert(bad.count() == 0)
    out.unpersist()
  }

  test("streaming incremental dedup reproduces the batch op exactly") {
    val batch = DedupOps.dedupIncremental(spark, sf0001)
    val stream = DedupOps.dedupStreamIncremental(spark, sf0001)
    assert(stream.count() == batch.count())
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("repetition removal: witness doc cleans, repetition-free docs pass through") {
    import spark.implicits._
    val dir = tempDir("reprm")
    Seq(
      // doc 0: "a b c" repeats → second occurrence excised
      (0L, "a b c x y z a b c"),
      // doc 1: no repeated 3-gram → untouched
      (1L, "one two three four five"),
      // doc 2: too short for any gram → untouched
      (2L, "hi there"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.textRepetitionRemove(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // witness: 3 tokens removed, cleaned text is the first 6 tokens
    assert(out(0L).getLong(2) == 3L)
    val cleanedMd5 = spark.sql("SELECT md5('a b c x y z')").head.getString(0)
    assert(out(0L).getString(3) == cleanedMd5)
    // repetition-free docs keep their original text byte-for-byte
    val origMd5 = spark.sql("SELECT md5('one two three four five')").head.getString(0)
    assert(out(1L).getLong(2) == 0L && out(1L).getString(3) == origMd5)
    assert(out(2L).getLong(2) == 0L)
    // corpus-level: removal never empties a doc (first occurrences survive)
    val corpus = TextOps.textRepetitionRemove(spark, sf0001)
    assert(corpus.filter($"n_removed" >= $"n_tokens").count() == 0)
  }

  test("bpe train: greedy overlap parity, chained merges, early exhaustion") {
    import spark.implicits._
    val dir = tempDir("bpe")
    // three "aaaa" occurrences + one "ab": round 1 must merge (a,a)
    // with weight 9 (3 overlapping pairs × 3 occurrences, greedy takes
    // even offsets), round 2 chains onto the MERGED symbol ((aa,aa) →
    // aaaa), round 3 takes the leftover (a,b), round 4 finds no pair
    // and the loop stops early
    Seq((0L, "aaaa aaaa ab"), (1L, "aaaa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.textBpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "aa", "aa", "aaaa", 3L),
      (3L, "a", "b", "ab", 1L)))
  }

  test("media near-dup pairs share a perceptual key and feed the pipeline's keep-one") {
    import spark.implicits._
    val out = MultimodalOps.mmDedupNear(spark, sf0001).cache()
    // pk is a real group key: da and db always carry the same pk by
    // construction; check symmetry bound instead — no self pairs, ordered
    assert(out.filter($"da" >= $"db").count() == 0)
    // every pair's two docs map to one keep-one survivor at most: the
    // pipeline's bucket keep-one must drop at least one side of each pair
    val kept = MultimodalOps.mmPipelineE2e(spark, sf0001).select($"doc_id")
    val bothKept = out
      .join(kept.toDF("da"), "da")
      .join(kept.toDF("db"), "db")
    // pairs whose bucket key matches the pipeline's (w,h,size) key can't
    // both survive; pairs below the pipeline's 64-byte gate may linger
    val meta = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", octet_length($"text".cast("binary")).cast("long").as("n_bytes"))
    val gated = bothKept
      .join(meta.toDF("da", "ba"), "da").join(meta.toDF("db", "bb"), "db")
      .filter($"ba" >= 64L && $"bb" >= 64L)
    assert(gated.count() == 0)
    out.unpersist()
  }
}
