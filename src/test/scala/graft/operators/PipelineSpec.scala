package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  test("simhash: deterministic, near-dup sensitive, disjoint-insensitive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words entirely unrelated content here now"),
      (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
    ).toDF("id", "text")
    val sigs = docs.select($"id", expr("simhash(split(text,' '))").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(4L), "identical docs must have identical signatures")
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)),
      "near-dup must be closer than unrelated doc")
    assert(hamming(sigs(1L), sigs(2L)) <= 16)
  }

  test("minhash+LSH recovers the exact n-gram jaccard pairs (full recall at sf0.001)") {
    val exact = DedupOps.dedupNgramJaccard(spark, sf0001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.dedupMinhashLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // LSH verifies candidates with the exact criterion → precision 1
    assert(lsh.subsetOf(exact))
    // banding 16 rows into 4 bands at threshold 0.5 → near-total recall
    assert(lsh.size >= (exact.size * 0.8).toInt)
  }

  test("embedding LSH pairs: precision 1 vs exact cosine, recall >= 0.85") {
    val exact = DedupOps.dedupEmbeddingCosine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.dedupEmbeddingLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain cosine pairs above threshold")
    // same exact-cosine verification after candidate generation → every
    // reported pair is a true pair
    assert(lsh.subsetOf(exact))
    // 16 bands × 4 bits at this corpus's low (0.4) threshold — see the
    // S-curve note on dedupEmbeddingLsh
    assert(lsh.size >= (exact.size * 0.85).toInt)
  }

  test("ANN LSH results are a valid ranked subset of brute-force candidates") {
    val brute = SimilarityOps.simTopkBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ann = SimilarityOps.simAnnLsh(spark, sf0001).collect()
    assert(brute.nonEmpty && ann.nonEmpty)
    val perQ = ann.groupBy(_.getLong(0))
    perQ.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
  }

  test("streaming window agg equals batch window agg (semantic parity)") {
    val batch = EventOps.evWindowAgg(spark, sf0001).collect().toSeq
    val stream = EventOps.evStreamWindow(spark, sf0001).collect().toSeq
    assert(stream == batch)
  }

  test("multimodal frame sample: stub decode produces the documented bytes") {
    import spark.implicits._
    val doc = graft.Tables.documents(spark, sf0001)
      .filter($"doc_id" === 0L).select($"text").as[String].head()
    val frames = MultimodalOps.mmFrameSample(spark, sf0001)
      .filter($"doc_id" === 0L).collect()
    val expectedFirst = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      doc.getBytes("UTF-8").slice(0, 16))
    assert(frames.head.getAs[String]("frame_md5") == expectedFirst)
    assert(frames.length == math.min(math.max(1, doc.getBytes("UTF-8").length / 64), 4))
  }

  test("mm_resize thumbnail samples CODEPOINTS — SQL substr semantics on non-ASCII") {
    // round-3 verdict #1a: the pre-round-4 byte sampler agreed with the
    // char-indexed DuckDB oracle only on pure-ASCII corpora. 128
    // codepoints mixing 2-byte (é), 3-byte (日), and astral (😀) chars →
    // stride 2, thumb = every 2nd CODEPOINT (not byte, not UTF-16 char).
    val text = (0 until 32).map(i => s"é日😀${i % 10}").mkString
    val cps = text.codePoints().toArray
    assert(cps.length == 128)
    val expected = new java.lang.StringBuilder(64)
    (0 until 64).foreach(i => expected.appendCodePoint(cps(i * 2)))
    assert(MultimodalOps.thumbChars(text) == expected.toString)
    // short doc: stride 1, truncates at the end instead of padding
    assert(MultimodalOps.thumbChars("ab") == "ab")
  }

  test("graphx degrees sum to 2x edge count; cc labels by min term") {
    val t = RdfOps.tripleView(spark, sf0001)
    val nEdges = t.count()
    val degs = GraphOps.graphxDegrees(spark, sf0001)
    val total = degs.agg(sum("degree")).head().getLong(0)
    assert(total == 2 * nEdges)
    val cc = GraphOps.graphxCc(spark, sf0001).collect()
    // every component label must be ≤ its member (lexicographically)
    assert(cc.forall(r => r.getString(1) <= r.getString(0)))
  }

  test("langid is deterministic and total") {
    val out = TextOps.textLangId(spark, sf0001).collect()
    assert(out.length == 500)
    assert(out.forall(r => Set("en", "de", "es", "fr", "und").contains(r.getString(1))))
  }

  test("e2e pipeline output honors every stage's invariant") {
    import spark.implicits._
    val out = CurationOps.docPipelineE2e(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "pipeline should keep some documents")
    // distinct ids, all quality-gate survivors, no held-out docs
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
    assert(ids.forall(_ % 50 != 0), "benchmark docs must not survive")
    val gatedIds = CurationOps.docQualityFilter(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(gatedIds.contains), "every survivor passed the quality gate")
    // shard packing: within each source, shard ids start at 0 and are
    // non-decreasing in doc_id order (cumulative-sum contract)
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val shards = rs.sortBy(_.getLong(0)).map(_.getLong(3))
      assert(shards.head == 0L)
      assert(shards.zip(shards.tail).forall { case (a, b) => a <= b })
    }
    // near-dup keep-one: no two surviving docs form a verified
    // minhash near-dup pair
    val survivors = ids.toSet
    val pairs = DedupOps.minhashPairs(spark,
      graft.Tables.documents(spark, sf0001).select($"doc_id", $"text")).collect()
    assert(!pairs.exists(r =>
      survivors(r.getLong(0)) && survivors(r.getLong(1))),
      "two members of one near-dup cluster both survived")
    out.unpersist()
  }

  test("q_approx_distinct: HLL estimate within its error bound of the exact count") {
    // The op emits (exact_parts, hll_ok) where hll_ok asserts the HLL
    // estimate landed within max(3, 15% of exact) of the exact count
    // (3-sigma-ish for rsd 5%, with an absolute floor so tiny groups
    // can't deterministically fail) — the flag is what the DuckDB
    // oracle compares, so pin here that it is 1 for every group and
    // that exact_parts is the true distinct count.
    import spark.implicits._
    import org.apache.spark.sql.functions.countDistinct
    val rows = RelationalOps.qApproxDistinct(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.lineitem(spark, sf0001)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    exact.foreach { case (flag, n) =>
      val (exactParts, hllOk) = rows(flag)
      assert(exactParts == n, s"flag=$flag exact_parts=$exactParts != $n")
      assert(hllOk == 1L, s"flag=$flag HLL estimate outside max(3, 15%) envelope")
    }
  }

  test("pack manifest: spans tile each document exactly and fill sequences contiguously") {
    import spark.implicits._
    val m = CurationOps.docPackManifest(spark, sf0001).collect()
    val toks = graft.Tables.documents(spark, sf0001)
      .select($"source", $"doc_id",
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " ")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // per document: spans are disjoint, ordered, and sum to n_tokens
    m.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (k, rows) =>
      val spans = rows.sortBy(_.getLong(2)).map(r => (r.getLong(3), r.getLong(4)))
      assert(spans.head._1 == 0L, s"$k first span must start at 0")
      assert(spans.last._2 == toks(k), s"$k last span must end at n_tokens")
      spans.sliding(2).foreach {
        case Array((_, to), (from, _)) => assert(to == from, s"$k spans must tile")
        case _ => ()
      }
    }
    // per (source, seq): token mass never exceeds the 128 budget
    m.groupBy(r => (r.getString(0), r.getLong(2))).foreach { case (k, rows) =>
      val mass = rows.map(r => r.getLong(4) - r.getLong(3)).sum
      assert(mass <= 128, s"sequence $k holds $mass tokens > 128")
    }
  }

  test("train feed: dense positions, sequences within budget, gate respected") {
    import spark.implicits._
    val rows = CurationOps.docTrainFeed(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // positions are dense 1..N
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    // no sequence packs more than its 128-token budget
    rows.foreach { r =>
      assert(r.getLong(4) <= 128,
        s"sequence ${r.getString(1)}/${r.getLong(2)} holds ${r.getLong(4)} tokens")
    }
    // total packed token mass equals the gated+deduped corpus mass
    val expected = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull)
      .select($"doc_id", $"text",
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " ")).cast("long").as("n"))
      .collect()
    val gatedDocs = CurationOps.docQualityFilter(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val byText = expected.filter(r => gatedDocs.contains(r.getLong(0)))
      .groupBy(_.getString(1)).map { case (_, g) => g.minBy(_.getLong(0)) }
    assert(rows.map(_.getLong(4)).sum == byText.map(_.getLong(2)).sum)
  }

  test("interleave: dense positions, weighted sources lead proportionally") {
    import spark.implicits._
    val rows = CurationOps.docInterleave(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    // in the first half of the mix, weight-3 sources must contribute
    // roughly 3x the docs of weight-1 sources (exact ratio depends on
    // source sizes; the pin is the ORDER, not a statistic)
    val half = rows.take(rows.length / 2)
    val w3 = half.count(_.getLong(3) == 3L)
    val w1 = half.count(_.getLong(3) == 1L)
    assert(w3 > w1 * 2, s"weight-3 sources should dominate the early mix: w3=$w3 w1=$w1")
  }
}
