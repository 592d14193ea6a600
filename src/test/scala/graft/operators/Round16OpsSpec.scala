package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the round-16 additions: BPE edge-case parity fixes,
  * the RAG index append/stream lifecycle, and sink compaction. */
class Round16OpsSpec extends SparkSpec {

  test("bpe encode: early exhaustion and double-space words keep the vocab sound") {
    import spark.implicits._
    val dir = tempDir("bpe_enc")
    // merges exhaust after round 2 ((a,b) then (c,d) leave only
    // 1-symbol words, rounds 3-4 find nothing); doc 2 carries a double
    // space whose empty "word" must be excluded from the dictionary
    // (it has no symbols to merge and the oracle's unnest(syms) replay
    // would drop it mid-fit)
    Seq((0L, "ab ab c"), (1L, "ab c c"), (2L, "ab  ab"), (3L, "cd ab"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val train = TextOps.textBpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(train.toSeq == Seq((1L, "ab", 6L), (2L, "cd", 1L)))
    val enc = TextOps.textBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every word a single post-merge symbol; doc 2's empty word dropped
    assert(enc == Map(0L -> ((3L, 3L)), 1L -> ((3L, 3L)),
      2L -> ((2L, 2L)), 3L -> ((2L, 2L))))
  }

  test("bpe depth is the spark.graft.bpeMerges conf (default BpeMerges)") {
    import spark.implicits._
    val dir = tempDir("bpe_depth")
    // long uniform words so every depth finds a best pair to merge
    Seq((0L, "aaaaaaaa bbbbbbbb aaaaaaaa"), (1L, "aaaaaaaa cccc"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ranks() = TextOps.textBpeTrain(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(ranks() == (1L to TextOps.BpeMerges)) // default depth
    spark.conf.set("spark.graft.bpeMerges", "2")
    try assert(ranks() == Seq(1L, 2L))
    finally spark.conf.unset("spark.graft.bpeMerges")
    spark.conf.set("spark.graft.bpeMerges", "6")
    try {
      val r6 = ranks()
      assert(r6 == (1L to 6L))
      // deeper fit must extend, not alter, the shallower merge list
      val m6 = TextOps.textBpeTrain(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(3)))
      spark.conf.set("spark.graft.bpeMerges", "2")
      val m2 = TextOps.textBpeTrain(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(3)))
      assert(m6.take(2).toSeq == m2.toSeq)
    } finally spark.conf.unset("spark.graft.bpeMerges")
  }

  test("rag streaming serve: serve log equals the batch retrieval exactly") {
    import spark.implicits._
    val streamed = CurationOps.docRagStream(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = CurationOps.docRagE2e(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // a rerun must REPLACE the serve log (batch-0 overwrite), not
    // append duplicate answers
    val rerun = CurationOps.docRagStream(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rerun.toSeq == batch.toSeq)
  }

  test("compact sink: per-partition files drop to ceil(rows/target), content intact") {
    import scala.jdk.CollectionConverters._
    val root = tempIndexRoot("compact_pin")
    spark.conf.set("spark.graft.compactMaxRows", "3")
    try {
      val out = CurationOps.docCompactSink(spark, sf0001)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def filesPerSource(dir: String): Map[String, Int] = {
        val base = java.nio.file.Paths.get(dir)
        java.nio.file.Files.walk(base).iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p)
            && p.getFileName.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString.split("/")(0))
          .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      }
      def dirOf(prefix: String) =
        java.nio.file.Files.list(java.nio.file.Paths.get(root)).iterator().asScala
          .find(_.getFileName.toString.startsWith(prefix)).get.toString
      val compact = filesPerSource(dirOf("docs_compact_"))
      assert(out.nonEmpty)
      // the compacted layout hits the ceil(rows/target) bound exactly
      out.foreach { case (src, n) =>
        assert(compact(s"source=$src") == ((n + 2) / 3).toInt,
          s"$src: ${compact(s"source=$src")} files for $n rows @ target 3")
      }
      // at the DEFAULT (production-sized) target every partition
      // collapses to one file — strictly fewer than the fragmented
      // append layout, which is the point of the op
      spark.conf.unset("spark.graft.compactMaxRows")
      val out1 = CurationOps.docCompactSink(spark, sf0001)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val frag1 = filesPerSource(dirOf("docs_frag_"))
      val compact1 = filesPerSource(dirOf("docs_compact_"))
      out1.keys.foreach { src =>
        assert(compact1(s"source=$src") == 1, s"$src: expected 1 compacted file")
      }
      assert(frag1.values.sum > compact1.values.sum, "compaction freed no files")
    } finally spark.conf.unset("spark.graft.compactMaxRows")
  }

  test("rag index append: appended index covers every chunk exactly once") {
    import spark.implicits._
    val out = CurationOps.docRagIndexAppend(spark, sf0001).cache()
    val chunks = CurationOps.docChunk(spark, sf0001)
      .select($"doc_id", $"chunk_id")
    // exact cover: same key set as the chunker, no dup rows from the
    // append (a rerun that appended twice would double the batch side)
    assert(out.count() == chunks.count())
    assert(out.select($"doc_id", $"chunk_id")
      .exceptAll(chunks).isEmpty)
    // both the base corpus and the arriving batch are present
    val srcs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source")
    val bySide = out.join(srcs, "doc_id")
      .groupBy($"source".isin("src0", "src1").as("batch"))
      .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(bySide.getOrElse(true, 0L) > 0 && bySide.getOrElse(false, 0L) > 0)
    out.unpersist()
  }
}
